package graft

import java.nio.file.{Files, Path}
import java.sql.Timestamp

import graft.agent.ReactLoop
import graft.memory.{MemoryConfig, MemoryStore}
import graft.model.{Message, TaskRow, Tool}
import graft.provider.StubProvider
import graft.serve.{ChatService, Snapshot}
import graft.task.{TaskConfig, TaskStore}
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation

/** How `ChatService` commits a turn: driver-held rows folded with the
  * stores' own rules under the snapshot's configs, published as local
  * relations, and only after the commit-log push succeeded. */
class ChatCommitSpec extends SparkSpec {

  private def fenced(json: String) = "```json\n" + json + "\n```"
  private def ts(i: Int) = new Timestamp(i * 1000L)

  private def sameRows[T](got: Dataset[T], want: Dataset[T]): Unit = {
    val g = got.collect().toSeq
    val w = want.collect().toSeq
    assert(g.size == w.size && g.diff(w).isEmpty, s"\n got: $g\nwant: $w")
  }

  test("the row commit equals the batch store operators on ReactLoop's writes") {
    import spark.implicits._
    val fileBody = "START " + ("line of the extracted plan " * 6) + "END"
    // s1: record, put, file + record, re-put of the same key; s2: a
    // record every turn. Analyses carry a summary every turn (retention
    // at 2), more topics than maxTopics = 2 (eviction) and key facts.
    val script = Seq(
      ("s1", 1L, "s1 q1", """{"text": "s1 one", "mem_op": {"name": "add_memory_record", "args": {"memory": "note-s1-1"}}, "finished": true}"""),
      ("s2", 2L, "s2 q1", """{"text": "s2 one", "mem_op": {"name": "add_memory_record", "args": {"memory": "note-s2-1"}}, "finished": true}"""),
      ("s1", 1L, "s1 q2", """{"text": "s1 two", "mem_op": {"name": "add_memory_data", "args": {"key": "pref", "value": "tea"}}, "finished": true}"""),
      ("s2", 2L, "s2 q2", """{"text": "s2 two", "mem_op": {"name": "add_memory_record", "args": {"memory": "note-s2-2"}}, "finished": true}"""),
      ("s1", 1L, "s1 q3", s"""{"text": "s1 three $fileBody", "mem_op": {"name": "add_memory_record", "args": {"memory": "note-s1-3"}}, "finished": true}"""),
      ("s2", 2L, "s2 q3", """{"text": "s2 three", "mem_op": {"name": "add_memory_record", "args": {"memory": "note-s2-3"}}, "finished": true}"""),
      ("s1", 1L, "s1 q4", """{"text": "s1 four", "mem_op": {"name": "add_memory_data", "args": {"key": "pref", "value": "coffee"}}, "finished": true}"""),
      ("s2", 2L, "s2 q4", """{"text": "s2 four", "mem_op": {"name": "add_memory_record", "args": {"memory": "note-s2-4"}}, "finished": true}"""))
    val stub = new StubProvider(canned =
      // file extraction for the one reply that carries a file
      ("Text:\ns1 three" -> fenced(
        """{"files": [{"start_marker": "START", "end_marker": "END",
          |  "content_type": "note", "title": "Plan", "description": "d"}]}""".stripMargin)) +:
      script.map { case (_, _, q, reply) => s"## Query:\n$q" -> fenced(reply) } ++:
      Seq(
        // the newest record of the batch picks the analysis
        "note-s1-3" -> fenced(
          """{"summary": "s1 later", "topics": {"gamma": "g", "alpha": "a2"}, "key_facts": ["f3a", "f3b"]}"""),
        "note-s1-1" -> fenced(
          """{"summary": "s1 early", "topics": {"alpha": "a", "beta": "b"}, "key_facts": ["f1"]}"""),
        "note-s2" -> fenced(
          """{"summary": "s2", "topics": {"delta": "d", "epsilon": "e", "zeta": "z"}, "key_facts": []}""")))

    val memory0 = MemoryStore.empty(spark, MemoryConfig(savedSummaryNum = 2, maxTopics = 2))
    val tasks0 = TaskStore.empty(spark, TaskConfig(maxLogs = 2))
      .upsertTask(TaskRow(1L, "chat", "one", "t1", "", "", ts(1)))
      .upsertTask(TaskRow(2L, "chat", "two", "t2", "", "", ts(1)))
    val tools = spark.emptyDataset[Tool]
    val svc = new ChatService(stub,
      ChatService.State(memory0, tasks0, spark.emptyDataset[Message]), tools,
      Files.createTempDirectory("graft_chat_commit").toString)
    val loop = new ReactLoop(stub)
    var memory = memory0
    var tasks = tasks0
    var messages = spark.emptyDataset[Message]
    script.zipWithIndex.foreach { case ((session, taskId, query, _), i) =>
      val now = ts(100 + 10 * i)
      svc.processTurn(session, query, Some(taskId), now)
      val out = loop.processQuery(session, query,
        Snapshot.of(ChatService.State(memory, tasks, messages), Nil), Some(taskId), now)
      val w = out.writes
      memory = w.records.foldLeft(memory)(_.addRecord(_))
      memory = w.puts.foldLeft(memory)(_.putData(_))
      w.log.foreach(l => tasks = tasks.appendLog(l))
      if (w.files.nonEmpty) tasks = tasks.copy(files = tasks.files.union(w.files.toDS()))
      w.analysis.foreach(a => memory = memory.applyUpdate(session, a, now))
      messages = messages.union(out.writes.messages.toDS())
      if (i == 2) {
        val plan = svc.state.memory.records.queryExecution.analyzed
        assert(plan.isInstanceOf[LocalRelation], plan.treeString)
      }
    }

    val st = svc.state
    sameRows(st.memory.records, memory.records)
    sameRows(st.memory.summaries, memory.summaries)
    sameRows(st.memory.topics, memory.topics)
    sameRows(st.memory.kv, memory.kv)
    sameRows(st.tasks.tasks, tasks.tasks)
    sameRows(st.tasks.logs, tasks.logs)
    sameRows(st.tasks.files, tasks.files)
    sameRows(st.messages, messages)

    // the script reached every rule it is meant to exercise
    val kv = st.memory.kv.collect()
    assert(kv.filter(_.key == "pref").map(_.value).toSeq == Seq("coffee"))
    assert(kv.count(_.key.startsWith("fact_")) == 6)
    assert(st.memory.summaries.collect().groupBy(_.sessionId).values.forall(_.length == 2))
    assert(st.memory.topics.collect().groupBy(_.sessionId).values.forall(_.length == 2))
    assert(st.tasks.logs.collect().groupBy(_.taskId).values.forall(_.length == 2))
    assert(st.tasks.files.collect().map(_.filename).toSeq == Seq("Plan.txt"))
  }

  test("a config set through updateState governs the next turn's commit") {
    import spark.implicits._
    // every turn adds a record, so every turn's analysis has a summary
    val stub = new StubProvider(canned = Seq(
      "## Query:" -> fenced(
        """{"text": "ok", "mem_op": {"name": "add_memory_record", "args": {"memory": "m"}}, "finished": true}"""),
      "Analyze the following memory records" -> fenced(
        """{"summary": "sum", "topics": {}, "key_facts": []}""")))
    val svc = new ChatService(stub,
      ChatService.State(MemoryStore.empty(spark, MemoryConfig(savedSummaryNum = 3)),
        TaskStore.empty(spark), spark.emptyDataset[Message]),
      spark.emptyDataset[Tool],
      Files.createTempDirectory("graft_chat_config").toString)
    def summaries = svc.state.memory.summaries.collect().count(_.sessionId == "s")
    svc.processTurn("s", "q1", None, ts(100))
    svc.processTurn("s", "q2", None, ts(110))
    assert(summaries == 2)

    svc.updateState(st => st.copy(memory = st.memory.copy(
      config = MemoryConfig(savedSummaryNum = 1))))
    assert(svc.state.memory.config.savedSummaryNum == 1)
    svc.processTurn("s", "q3", None, ts(120))
    assert(summaries == 1)
  }

  test("a turn whose commit-log push fails is not committed, and its retry applies once") {
    import spark.implicits._
    val stub = new StubProvider(canned = Seq(
      "## Query:\nfirst" -> fenced(
        """{"text": "one", "mem_op": {"name": "add_memory_record", "args": {"memory": "m1"}}, "finished": true}"""),
      "## Query:\nsecond" -> fenced(
        """{"text": "two", "mem_op": {"name": "add_memory_record", "args": {"memory": "m2"}}, "finished": true}""")))
    val pushDir: Path = Files.createTempDirectory("graft_chat_pushfail").resolve("topic")
    val svc = new ChatService(stub,
      ChatService.State(MemoryStore.empty(spark),
        TaskStore.empty(spark).upsertTask(TaskRow(1L, "chat", "t", "t", "", "", ts(1))),
        spark.emptyDataset[Message]),
      spark.emptyDataset[Tool], pushDir.toString)
    def counts = {
      val st = svc.state
      (st.memory.records.count(), st.tasks.logs.count(), st.messages.count())
    }
    svc.handle("""{"session_id": "s", "query": "first", "task_id": 1, "ts": 100}""")
    val before = counts
    assert(before == ((1L, 1L, 2L)))

    // a plain file where the topic directory should be: the append throws
    Files.walk(pushDir).sorted(java.util.Comparator.reverseOrder()).forEach(p => Files.delete(p))
    Files.write(pushDir, Array[Byte](1))
    intercept[Exception](
      svc.handle("""{"session_id": "s", "query": "second", "task_id": 1, "ts": 200}"""))
    assert(counts == before)

    Files.delete(pushDir)
    svc.handle("""{"session_id": "s", "query": "second", "task_id": 1, "ts": 200}""")
    assert(counts == ((2L, 2L, 4L)))
    val pushed = spark.read.format("commit-log").load(pushDir.toString)
      .select("value").as[String].collect().toSeq
    assert(pushed == Seq("two"))
  }
}
