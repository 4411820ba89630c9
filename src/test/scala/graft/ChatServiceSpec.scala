package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.Files

import graft.memory.MemoryStore
import graft.model.{Message, TaskRow, Tool}
import graft.provider.StubProvider
import graft.serve.{ChatService, ViewServer}
import graft.task.TaskStore

/** The write-path chat endpoint end-to-end (reference app.py:396-444):
  * a scripted multi-turn HTTP session through POST /chat, with the
  * assistant responses pushed onto a commit-log topic (the
  * socketio.emit analog) and the read-side views reflecting the new
  * state on the next GET.
  */
class ChatServiceSpec extends SparkSpec {

  private val http = HttpClient.newHttpClient()
  private def post(url: String, body: String): (Int, String) = {
    val resp = http.send(
      HttpRequest.newBuilder(URI.create(url))
        .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
      HttpResponse.BodyHandlers.ofString())
    (resp.statusCode(), resp.body())
  }
  private def get(url: String): (Int, String) = {
    val resp = http.send(
      HttpRequest.newBuilder(URI.create(url)).GET().build(),
      HttpResponse.BodyHandlers.ofString())
    (resp.statusCode(), resp.body())
  }

  test("POST /chat runs ReAct turns, pushes to the commit log, updates views") {
    import spark.implicits._
    val pushDir = Files.createTempDirectory("graft_chat_push").toString

    val stub = new StubProvider(canned = Seq(
      "## Query:\nwhat dedup methods exist?" ->
        """```json
{"text": "MinHash-LSH for Jaccard, SimHash for Hamming.",
 "mem_op": {"name": "add_memory_record",
            "args": {"memory": "user asked about dedup methods"}},
 "finished": true}
```""",
      "## Query:\nsummarize the plan" ->
        """```json
{"text": "Shingle, sign, band, verify, cluster.", "finished": true}
```""",
      // a reply carrying an ANSI escape (a raw 0x1b once parsed)
      "## Query:\ncolor me" ->
        "```json\n{\"text\": \"red \\u001b[31malert\", \"finished\": true}\n```"))

    val state0 = ChatService.State(
      MemoryStore.empty(spark),
      TaskStore.empty(spark)
        .upsertTask(TaskRow(1L, "plan", "", "dedup pipeline", "", "new",
          new java.sql.Timestamp(1000L))),
      spark.emptyDataset[Message])
    val svc = new ChatService(stub, state0, spark.emptyDataset[Tool], pushDir)
    val server = new ViewServer(
      routes = Map("/api/tasks" -> (() => svc.state.tasks.tasksView)),
      postRoutes = Map(
        "/chat" -> svc.handle,
        "/boom" -> (_ => throw new IllegalStateException("handler failed"))))
    val port = server.start()
    try {
      // turn 1: memory op + task log
      val (s1, r1) = post(s"http://127.0.0.1:$port/chat",
        """{"session_id": "s1", "query": "what dedup methods exist?", "task_id": 1, "ts": 100}""")
      assert(s1 == 200 && r1.contains("MinHash-LSH for Jaccard"))
      assert(svc.state.memory.records.count() == 1)

      // turn 2: same session, later ts — state accumulates
      val (s2, r2) = post(s"http://127.0.0.1:$port/chat",
        """{"session_id": "s1", "query": "summarize the plan", "task_id": 1, "ts": 200}""")
      assert(s2 == 200 && r2.contains("Shingle, sign, band, verify"))
      assert(svc.state.messages.count() >= 4) // 2 user + 2 assistant

      // the task view (read side) saw both turn logs
      val (s3, tasks) = get(s"http://127.0.0.1:$port/api/tasks")
      assert(s3 == 200 && tasks.contains(""""taskId":1"""))

      // push channel: both responses are on the commit log, in order,
      // at consecutive offsets of the session's partition
      val pushed = spark.read.format("commit-log").load(pushDir)
        .orderBy("partition", "offset")
        .select("offset", "key", "value").as[(Long, String, String)].collect()
      assert(pushed.length == 2)
      assert(pushed(0) == ((0L, "s1", "MinHash-LSH for Jaccard, SimHash for Hamming.")))
      assert(pushed(1)._1 == 1L && pushed(1)._3.startsWith("Shingle"))

      // a control character in the reply is escaped: the body is
      // strict JSON (no raw char below 0x20) and parses back to it
      val (s4, r4) = post(s"http://127.0.0.1:$port/chat",
        """{"session_id": "s2", "query": "color me", "ts": 300}""")
      assert(s4 == 200 && !r4.exists(_ < ' '), r4)
      assert(graft.functions.AgentText.parseJson5ish(r4).collect {
        case graft.functions.AgentText.JObj(f) => f("response") } ==
        Some(graft.functions.AgentText.JStr("red \u001b[31malert")))

      // malformed bodies → 400 with a JSON error, and nothing committed;
      // a present field of the wrong type is named, never defaulted
      val committed = svc.state.messages.count()
      Seq("not json", "[1, 2]", "\"text\"", """{"session_id": "s"}""", """{"query": 3}""")
        .foreach { body =>
          val (status, err) = post(s"http://127.0.0.1:$port/chat", body)
          assert(status == 400, body)
          assert(err.startsWith("""{"error": """), err)
        }
      Seq("session_id" -> """{"session_id": 5, "query": "q"}""",
        "task_id" -> """{"query": "q", "task_id": "3"}""",
        "task_id" -> """{"query": "q", "task_id": 2.5}""",
        "task_id" -> """{"query": "q", "task_id": 1e19}""",
        "ts" -> """{"query": "q", "ts": "soon"}""",
        "ts" -> """{"query": "q", "ts": 1e999}""",
        "ts" -> """{"query": "q", "ts": 1e17}""")
        .foreach { case (field, body) =>
          val (status, err) = post(s"http://127.0.0.1:$port/chat", body)
          assert(status == 400 && err.startsWith(s"""{"error": "'$field' must be"""), err)
        }
      assert(post(s"http://127.0.0.1:$port/chat", """{"nope": 1}""") ==
        ((400, """{"error": "missing 'query'"}""")))
      assert(svc.state.messages.count() == committed)
      // any other handler failure stays a 500
      assert(post(s"http://127.0.0.1:$port/boom", "{}") ==
        ((500, """{"error": "handler failed"}""")))
    } finally server.close()
  }

  test("a streaming consumer tails the chat push topic (the socketio analog)") {
    import spark.implicits._
    val pushDir = Files.createTempDirectory("graft_chat_stream").toString
    val outDir = Files.createTempDirectory("graft_chat_stream_out").toString
    val ckpt = Files.createTempDirectory("graft_chat_stream_ckpt").toString
    val stub = new StubProvider(canned = Seq())  // default: "ok"
    val svc = new ChatService(stub,
      ChatService.State(MemoryStore.empty(spark), TaskStore.empty(spark),
        spark.emptyDataset[Message]),
      spark.emptyDataset[Tool], pushDir)
    svc.handle("""{"session_id": "s9", "query": "hi", "ts": 10}""")
    svc.handle("""{"session_id": "s9", "query": "again", "ts": 20}""")
    // tail the topic exactly as a push-notification consumer would
    val q = spark.readStream.format("commit-log").load(pushDir)
      .select($"key", $"value")
      .writeStream.format("commit-log")
      .option("path", outDir).option("partitions", "1")
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try q.awaitTermination(120000) finally q.stop()
    val got = spark.read.format("commit-log").load(outDir)
      .orderBy("offset").select("key", "value").as[(String, String)].collect()
    assert(got.toSeq == Seq(("s9", "ok"), ("s9", "ok")))
  }

  test("rowCap bounds what a GET view can collect into the driver") {
    import spark.implicits._
    val server = new ViewServer(
      routes = Map("/api/big" -> (() => spark.range(100000).toDF())),
      rowCap = 5)
    val port = server.start()
    try {
      val (status, body) = get(s"http://127.0.0.1:$port/api/big")
      assert(status == 200)
      assert(body.count(_ == '{') == 5)
    } finally server.close()
  }
}
