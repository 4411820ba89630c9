package graft

import java.nio.file.{Files, Path}
import java.sql.Timestamp

import graft.memory.{MemoryConfig, MemoryStore}
import graft.model._
import graft.provider.{Provider, StubProvider}
import graft.serve.ChatService
import graft.task.{TaskConfig, TaskStore}
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation

/** How `ChatService` commits a turn: driver-held rows folded with the
  * stores' own rules under the snapshot's configs, published as local
  * relations, and only after the commit-log push succeeded. */
class ChatCommitSpec extends SparkSpec {

  private def fenced(json: String) = "```json\n" + json + "\n```"
  private def ts(i: Int) = new Timestamp(i * 1000L)

  private def sameRows[T](got: Dataset[T], want: Seq[T]): Unit = {
    val g = got.collect().toSeq
    assert(g.size == want.size && g.diff(want).isEmpty, s"\n got: $g\nwant: $want")
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
    script.zipWithIndex.foreach { case ((session, taskId, query, _), i) =>
      svc.processTurn(session, query, Some(taskId), ts(100 + 10 * i))
      if (i == 2) {
        val plan = svc.state.memory.records.queryExecution.analyzed
        assert(plan.isInstanceOf[LocalRelation], plan.treeString)
      }
    }

    // The rows the Dataset store operators (union appends, a
    // last-writer-wins filter, row_number() retention windows) gave for
    // this script, applied one turn at a time to ReactLoop's writes.
    // No two writes of the script tie on ts, so those rows are exact.
    val st = svc.state
    sameRows(st.memory.records, Seq(
      MemoryRecord("s1", ts(100), "note-s1-1"), MemoryRecord("s2", ts(110), "note-s2-1"),
      MemoryRecord("s2", ts(130), "note-s2-2"), MemoryRecord("s1", ts(140), "note-s1-3"),
      MemoryRecord("s2", ts(150), "note-s2-3"), MemoryRecord("s2", ts(170), "note-s2-4")))
    sameRows(st.memory.summaries, Seq(
      Summary("s1", ts(160), "s1 later"), Summary("s1", ts(140), "s1 later"),
      Summary("s2", ts(170), "s2"), Summary("s2", ts(150), "s2")))
    sameRows(st.memory.topics, Seq(
      Topic("s1", "beta", "b", ts(100), ts(120), 2L),
      Topic("s1", "alpha", "a2", ts(160), ts(160), 1L),
      Topic("s2", "epsilon", "e", ts(170), ts(170), 1L),
      Topic("s2", "zeta", "z", ts(170), ts(170), 1L)))
    sameRows(st.memory.kv, Seq(
      KvEntry("s1", "fact_100000_0", "f1"), KvEntry("s1", "fact_120000_0", "f1"),
      KvEntry("s1", "fact_140000_0", "f3a"), KvEntry("s1", "fact_140000_1", "f3b"),
      KvEntry("s1", "pref", "coffee"),
      KvEntry("s1", "fact_160000_0", "f3a"), KvEntry("s1", "fact_160000_1", "f3b")))
    sameRows(st.tasks.tasks, Seq(
      TaskRow(1L, "chat", "one", "t1", "", "", ts(1)),
      TaskRow(2L, "chat", "two", "t2", "", "", ts(1))))
    val once = Map("iterations" -> "1")
    sameRows(st.tasks.logs, Seq(
      TaskLog(1L, ts(160), "s1 q4", "s1 four", Seq("user: s1 q4", "assistant: s1 four"), once, null),
      TaskLog(1L, ts(140), "s1 q3", s"s1 three $fileBody", Seq("user: s1 q3",
        "assistant: s1 three START line of the extracted plan line of the extracted plan line of the"),
        once, null),
      TaskLog(2L, ts(170), "s2 q4", "s2 four", Seq("user: s2 q4", "assistant: s2 four"), once, null),
      TaskLog(2L, ts(150), "s2 q3", "s2 three", Seq("user: s2 q3", "assistant: s2 three"), once, null)))
    sameRows(st.tasks.files, Seq(
      ExtractedFileRow(1L, ts(140), "Plan.txt", "note", fileBody, 171L, "text",
        Map("extraction_method" -> "llm_analysis", "description" -> "d",
          "original_title" -> "Plan", "content_type" -> "note"))))
    sameRows(st.messages, Seq(
      Message("s1", 0L, "user", "s1 q1", ts(100)), Message("s1", 1L, "assistant", "s1 one", ts(100)),
      Message("s2", 0L, "user", "s2 q1", ts(110)), Message("s2", 1L, "assistant", "s2 one", ts(110)),
      Message("s1", 0L, "user", "s1 q2", ts(120)), Message("s1", 1L, "assistant", "s1 two", ts(120)),
      Message("s2", 0L, "user", "s2 q2", ts(130)), Message("s2", 1L, "assistant", "s2 two", ts(130)),
      Message("s1", 0L, "user", "s1 q3", ts(140)),
      Message("s1", 1L, "assistant", s"s1 three $fileBody", ts(140)),
      Message("s2", 0L, "user", "s2 q3", ts(150)), Message("s2", 1L, "assistant", "s2 three", ts(150)),
      Message("s1", 0L, "user", "s1 q4", ts(160)), Message("s1", 1L, "assistant", "s1 four", ts(160)),
      Message("s2", 0L, "user", "s2 q4", ts(170)), Message("s2", 1L, "assistant", "s2 four", ts(170))))

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

  test("ties at one ts go to the later write: the newest maxLogs logs, one summary per ts") {
    import spark.implicits._
    // three turns of one session and task at one ts, then a fourth
    // whose first prompt shows what the first three left
    val stub = new StubProvider(canned = Seq(1 -> "one", 2 -> "two", 3 -> "three").flatMap {
      case (i, n) => Seq(s"## Query:\nq$i" -> fenced(
        s"""{"text": "reply $n", "mem_op": {"name": "add_memory_record", "args": {"memory": "note-$i"}}, "finished": true}"""))
    } ++ Seq(3 -> "three", 2 -> "two", 1 -> "one").map { case (i, n) =>
      // the newest record of the batch picks the analysis
      s"note-$i" -> fenced(s"""{"summary": "sum $n", "topics": {}, "key_facts": []}""")
    })
    val prompts = scala.collection.mutable.ArrayBuffer[String]()
    val recording = new Provider {
      def generateResponse(prompt: String): String = { prompts += prompt; stub.generateResponse(prompt) }
    }
    val svc = new ChatService(recording,
      ChatService.State(MemoryStore.empty(spark),
        TaskStore.empty(spark, TaskConfig(maxLogs = 2))
          .upsertTask(TaskRow(1L, "chat", "one", "t1", "", "", ts(1))),
        spark.emptyDataset[Message]),
      spark.emptyDataset[Tool], Files.createTempDirectory("graft_chat_ties").toString)
    (1 to 3).foreach(i => svc.processTurn("s", s"q$i", Some(1L), ts(100)))

    val st = svc.state
    assert(st.tasks.logs.collect().map(_.query).sorted.toSeq == Seq("q2", "q3"))
    assert(st.memory.summaries.collect().toSeq == Seq(Summary("s", ts(100), "sum three")))
    prompts.clear()
    svc.processTurn("s", "q4", Some(1L), ts(200))
    assert(prompts.head.contains("\n## Memory Summary:\nsum three\n"), prompts.head)
    assert(prompts.head.contains(s"\nLatest log [${ts(100)}]: reply three\n"), prompts.head)
  }
}
