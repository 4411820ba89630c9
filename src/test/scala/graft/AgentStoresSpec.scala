package graft

import java.sql.Timestamp

import graft.memory.{MemoryAnalysis, MemoryConfig, MemoryStore}
import graft.model._
import graft.provider.StubProvider
import graft.registry.Registry
import graft.serve.{ChatService, Snapshot}
import graft.task.{TaskConfig, TaskStore}
import graft.agent.{AgentResponse, ReactLoop}

/** Stateful semantics of the agent data plane: memory retention and
  * eviction, task log trimming, registry validation, and the full ReAct
  * lifecycle with a deterministic stub provider (SURVEY.md §5 item 6).
  */
class AgentStoresSpec extends SparkSpec {

  private def ts(s: Long) = new Timestamp(s * 1000L)

  /** The stores after [[Snapshot.commit]] of each `(now, writes)` in
    * turn, for session `s`, starting from `memory` and `tasks`. */
  private def commit(memory: MemoryStore, tasks: TaskStore)(
      turns: (Timestamp, ReactLoop.Writes)*): ChatService.State = {
    import spark.implicits._
    turns.foldLeft(Snapshot.of(ChatService.State(memory, tasks, spark.emptyDataset[Message]), Nil)) {
      case (snap, (now, w)) => snap.commit("s", now, w)
    }.state
  }

  private def writes(analysis: Option[MemoryAnalysis] = None, puts: Seq[KvEntry] = Nil,
      log: Option[TaskLog] = None) = ReactLoop.Writes(Nil, Nil, puts, log, Nil, analysis)

  private def topics(updates: (String, String)*) =
    writes(analysis = Some(MemoryAnalysis(None, updates, Seq.empty)))

  test("memory: summary retention keeps the newest savedSummaryNum (Q12: 3, not 10)") {
    val m = commit(MemoryStore.empty(spark), TaskStore.empty(spark))((1 to 5).map(i =>
      ts(i) -> writes(analysis = Some(MemoryAnalysis(Some(s"sum$i"), Seq.empty, Seq.empty)))): _*).memory
    val kept = m.summaries.collect().map(_.text).toSet
    assert(kept == Set("sum3", "sum4", "sum5"))
    import spark.implicits._
    val latest = m.latestSummary.select("text").as[String].collect()
    assert(latest.toSeq == Seq("sum5"))
  }

  test("memory: topic eviction removes min (frequency, lastUpdated) at capacity") {
    val cfg = MemoryConfig(maxTopics = 3)
    val m = commit(MemoryStore.empty(spark, cfg), TaskStore.empty(spark))(
      ts(1) -> topics("a" -> "da", "b" -> "db", "c" -> "dc"),
      // bump frequency of a and c so b is the eviction victim
      ts(2) -> topics("a" -> "da2", "c" -> "dc2"),
      ts(3) -> topics("d" -> "dd")).memory
    val names = m.topics.collect().map(_.name).toSet
    assert(names == Set("a", "c", "d"), s"got $names")
    val a = m.topics.collect().find(_.name == "a").get
    assert(a.frequency == 2L && a.description == "da2")
  }

  test("memory: key facts land as fact_* KV rows; update() is deterministic with stub") {
    val stub = new StubProvider(Seq(
      "Analyze the following memory records" ->
        """```json
{"summary": "s1", "topics": {"t1": "desc1"}, "key_facts": ["f1", "f2"]}
```"""))
    import spark.implicits._
    val m = MemoryStore.empty(spark).copy(records = Seq(MemoryRecord("s", ts(1), "hello world")).toDS())
      .update("s", stub, ts(2))
    assert(m.summaries.collect().map(_.text).toSeq == Seq("s1"))
    assert(m.topics.collect().map(_.name).toSeq == Seq("t1"))
    val facts = m.kv.collect().sortBy(_.key)
    assert(facts.length == 2 && facts.map(_.value).toSet == Set("f1", "f2"))
  }

  test("memory: putData is last-writer-wins") {
    val kv = commit(MemoryStore.empty(spark), TaskStore.empty(spark))(
      ts(1) -> writes(puts = Seq(KvEntry("s", "k", "v1"))),
      ts(2) -> writes(puts = Seq(KvEntry("s", "k", "v2")))).memory.kv.collect()
    assert(kv.filter(_.key == "k").map(_.value).toSeq == Seq("v2"))
    assert(kv.length == 1)
  }

  test("task: appendLog trims to maxLogs and caps summaries at 200 chars") {
    val cfg = TaskConfig(maxLogs = 3)
    val t = commit(MemoryStore.empty(spark), TaskStore.empty(spark, cfg))((1 to 5).map(i =>
      ts(i) -> writes(log = Some(TaskLog(1L, ts(i), s"q$i", "r" * 250, Seq(s"e$i"), Map.empty, null)))
    ): _*).tasks
    val kept = t.logs.collect().sortBy(_.ts.getTime)
    assert(kept.length == 3)
    assert(kept.map(_.query).toSeq == Seq("q3", "q4", "q5"))
    assert(kept.head.responseSummary == "r" * 200 + "...")
  }

  test("task: tasksView computes logs/files counts and last_updated") {
    val t = commit(MemoryStore.empty(spark), TaskStore.empty(spark)
      .upsertTask(TaskRow(1L, "plan", "", "create a meal plan. x", "", "", ts(1))))(
      ts(5) -> writes(log = Some(TaskLog(1L, ts(5), "q", "r", Seq.empty, Map.empty, null)))).tasks
    val row = t.tasksView.collect().head
    assert(row.getAs[String]("title") == "A Meal Plan") // F9 derivation
    assert(row.getAs[Long]("logs_count") == 1L)
    assert(row.getAs[Long]("files_count") == 0L)
    assert(row.getAs[Timestamp]("last_updated") == ts(5))
  }

  test("task: file extraction via stub provider produces sanitized files") {
    val body = "START " + ("content " * 20) + "END"
    val stub = new StubProvider(Seq(
      "identify extractable file content" ->
        """```json
{"files": [{"start_marker": "START", "end_marker": "END",
            "content_type": "plan", "title": "My Plan!", "description": "d"}]}
```"""))
    val files = TaskStore.extractFiles(1L, ts(1), s"pre $body post", stub)
    assert(files.length == 1)
    val f = files.head
    assert(f.filename == "My_Plan.md")
    assert(f.content.startsWith("START") && f.content.endsWith("END"))
    assert(f.format == "markdown")
    assert(f.metadata("extraction_method") == "llm_analysis")
  }

  test("registry: union is last-server-wins on name collision (U1/Q7)") {
    import spark.implicits._
    val tools = Seq(
      Tool("t", "from s1", "{}", "s1", 1L),
      Tool("t", "from s2", "{}", "s2", 2L),
      Tool("u", "only", "{}", "s1", 1L)).toDS()
    val merged = Registry.unionLastWins(tools).collect()
    assert(merged.length == 2)
    assert(merged.find(_.name == "t").get.description == "from s2")
  }

  test("registry: arg validation coerces '5.0' to int and rejects unknown keys (J2)") {
    import spark.implicits._
    val schema = """{"properties": {"n": {"type": "number"}, "s": {"type": "string"}}}"""
    val tools = Seq(Tool("op", "d", schema, "s1", 1L)).toDS()
    val invs = Seq(
      Invocation(1L, "op", """{"n": "5.0", "s": "x"}"""),
      Invocation(2L, "op", """{"bad_key": 1}"""),
      Invocation(3L, "op", """{"n": "abc"}"""),
      Invocation(4L, "missing", "{}")).toDS()
    val out = Registry.validateArgs(invs, tools).collect().sortBy(_.id)
    assert(out(0).valid && out(0).argsJson.contains("\"n\": 5"))
    assert(!out(1).valid && out(1).error.contains("unknown arg"))
    assert(!out(2).valid)
    assert(!out(3).valid && out(3).error.contains("cannot be found"))
  }

  test("react loop: full lifecycle with stub provider is deterministic") {
    import spark.implicits._
    val stub = new StubProvider(
      canned = Seq(
        "Analyze the following memory records" ->
          """```json
{"summary": "learned", "topics": {"greeting": "user greets"}, "key_facts": []}
```""",
        "## Query:\nhi" ->
          """thinking...
```json
{"text": "hello!", "mem_op": {"name": "add_memory_record",
  "args": {"memory": "user said hi"}}, "finished": true}
```"""))
    val loop = new ReactLoop(stub)
    val messages = spark.emptyDataset[Message]
    val out = loop.processQuery("s", "hi", Snapshot.of(ChatService.State(
      MemoryStore.empty(spark), TaskStore.empty(spark), messages), Nil), None, ts(10))
    assert(out.iterations == 1)
    val roles = out.writes.messages.map(m => m.role -> m.content)
    assert(roles.contains("assistant" -> "hello!"))
    assert(out.writes.records.map(_.content) == Seq("user said hi"))
    // post-turn update ran: summary + topic from the analysis stub
    assert(out.writes.analysis ==
      Some(MemoryAnalysis(Some("learned"), Seq("greeting" -> "user greets"), Nil)))
  }

  test("react loop: tool dispatch feeds the result back and the turn logs to the task") {
    import spark.implicits._
    val longBody = "START " + ("word " * 30) + "END"
    val stub = new StubProvider(
      canned = Seq(
        // turn 1: a tool call (loop must continue despite finished=true)
        "tool: search result" ->
          s"""```json
{"text": "done: $longBody", "finished": true}
```""",
        "## Query:\nfind it" ->
          """```json
{"text": "searching", "tool": {"name": "search", "args": {"q": "x"}}, "finished": true}
```""",
        "Analyze the following memory records" ->
          """```json
{"summary": "s"}
```""",
        "identify extractable file content" ->
          """```json
{"files": [{"start_marker": "START", "end_marker": "END",
            "content_type": "note", "title": "Result", "description": ""}]}
```"""))
    val loop = new ReactLoop(stub,
      toolExecutor = (name, args) => s"tool: search result for $args")
    var tasks = TaskStore.empty(spark)
    tasks = tasks.upsertTask(TaskRow(7L, "research", "T", "t", "", "", ts(1)))
    val out = loop.processQuery("s", "find it", Snapshot.of(ChatService.State(
      MemoryStore.empty(spark), tasks, spark.emptyDataset[Message]), Nil),
      Some(7L), ts(10))
    // two iterations: tool turn, then the finish turn that saw the result
    assert(out.iterations == 2)
    assert(out.writes.messages.exists(m => m.role == "tool" && m.content.contains("search result")))
    // the task got a log record and an extracted file from the response
    val log = out.writes.log
    assert(log.exists(l => l.taskId == 7L && l.metadata("iterations") == "2"))
    val files = out.writes.files
    assert(files.length == 1 && files.head.filename == "Result.txt")
    assert(files.head.content.startsWith("START") && files.head.content.endsWith("END"))
  }

  test("agent response parsing: finished via boolean coercion, missing JSON → text turn") {
    val r1 = AgentResponse.parse("""```json
{"text": "t", "finished": "yes"}
```""")
    assert(r1.finished && r1.text == "t")
    val r2 = AgentResponse.parse("just plain text")
    assert(r2.finished && r2.text == "just plain text")
    val r3 = AgentResponse.parse("""```json
{"text": "x", "tool": {"name": "search", "args": {"q": "spark"}}, "finished": false}
```""")
    assert(!r3.finished && r3.tool.contains("search" -> """{"q": "spark"}"""))
  }
}
