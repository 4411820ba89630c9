package graft

import java.sql.Timestamp

import graft.context.ContextAssembler
import graft.memory.{MemoryAnalysis, MemoryConfig, MemoryStore}
import graft.model._
import graft.provider.Provider
import graft.task.TaskStore

/** Pins the exact text a chat turn reads from the stores: the
  * assembled prompt, the memory-analysis prompt and the `/api/tasks`
  * rows. Each expected value is spelled out, so a change in how the
  * stores are read (how many queries, in what shape) cannot change a
  * byte of what the model or a client sees. */
class PromptPinSpec extends SparkSpec {

  private def ts(s: Long) = new Timestamp(s * 1000L)

  /** Records every prompt it is asked and answers with no analysis. */
  private final class Recording extends Provider {
    val prompts = scala.collection.mutable.ArrayBuffer[String]()
    def generateResponse(prompt: String): String = { prompts += prompt; "no json" }
  }

  private val query = "memory dedup shards"

  /** Every prompt section non-empty for session s1 and task 7; s2, task
    * 8 and the other rows must not show. */
  private def fullState = {
    import spark.implicits._
    val cfg = MemoryConfig(latestRecordNum = 3, updateBatchSize = 2, savedSummaryNum = 2,
      relevantTopicsNum = 2, relevantKvNum = 2)
    val records = Seq(
      MemoryRecord("s1", ts(14), "note four"), MemoryRecord("s1", ts(11), "note one"),
      MemoryRecord("s2", ts(16), "other session note"),
      MemoryRecord("s1", ts(15), "note five"), MemoryRecord("s1", ts(12), "note two"),
      MemoryRecord("s1", ts(13), "note three")).toDS()
    // topic scores for the query: alpha 2, gamma 1, beta 1, delta 0;
    // the top 2 are alpha, then beta before gamma on the name tie
    val topics = Seq(
      Topic("s1", "gamma", "memory", ts(1), ts(1), 1L),
      Topic("s2", "aaa", "memory dedup shards", ts(1), ts(1), 1L),
      Topic("s1", "delta", "nothing here", ts(1), ts(1), 1L),
      Topic("s1", "beta", "shards", ts(1), ts(1), 1L),
      Topic("s1", "alpha", "memory dedup", ts(1), ts(1), 1L)).toDS()
    // k2 and k1 tie at 1, k0 scores 0
    val kv = Seq(
      KvEntry("s1", "k2", "shards tip"), KvEntry("s1", "k0", "unrelated"),
      KvEntry("s2", "k", "memory dedup shards"), KvEntry("s1", "k1", "memory tip")).toDS()
    // what retention at 2 keeps of three summaries, plus another session's newer one
    val summaries = Seq(Summary("s1", ts(2), "sum two"), Summary("s1", ts(3), "sum three"),
      Summary("s2", ts(9), "other summary")).toDS()
    val memory = MemoryStore(records, summaries, topics, kv, cfg)
    val tasks = TaskStore(
      Seq(TaskRow(8L, "plan", "Other", "x", "y", "z", ts(1)),
        TaskRow(7L, "plan", "Ship it", "target text", "plan text", "half done", ts(1))).toDS(),
      Seq(TaskLog(7L, ts(20), "q1", "first reply", Nil, Map.empty, null),
        TaskLog(8L, ts(30), "q", "other task reply", Nil, Map.empty, null),
        TaskLog(7L, ts(21), "q2", "second reply", Nil, Map.empty, null)).toDS(),
      spark.emptyDataset[ExtractedFileRow])
    val tools = Seq(
      Tool("search", "finds v1", "{}", "srvA", 0L),
      Tool("calc", "adds", "{}", "srvA", 0L),
      Tool("search", "finds v2", """{"q":"string"}""", "srvB", 1L)).toDS()
    val messages = Seq(
      Message("s1", 0L, "user", "q2", ts(200)), Message("s1", 1L, "assistant", "a2", ts(200)),
      Message("s2", 0L, "user", "elsewhere", ts(150)),
      Message("s1", 1L, "assistant", "a1", ts(100)), Message("s1", 0L, "user", "q1", ts(100))).toDS()
    (ContextAssembler(memory, tasks, tools), messages)
  }

  private def prompt(lines: String*) =
    ContextAssembler.systemRules + "\n" + lines.mkString("\n")

  test("assemble: every section, byte for byte") {
    val (assembler, messages) = fullState
    assert(assembler.assemble("s1", query, Some(7L), messages, 0L) === prompt(
      "",
      "## Memory Summary:",
      "sum three",
      "",
      "## Latest Memory Records:",
      "- [1970-01-01 00:00:13] note three",
      "- [1970-01-01 00:00:14] note four",
      "- [1970-01-01 00:00:15] note five",
      "",
      "## Memory Topics:",
      "- alpha memory dedup",
      "- beta shards",
      "",
      "## Memory Database (Key-Value Pairs):",
      "- k1 memory tip",
      "- k2 shards tip",
      "",
      "## Working Task: Ship it",
      "Target: target text",
      "Plan: plan text",
      "Progress: half done",
      s"Latest log [${ts(21)}]: second reply",
      "",
      "## Available Tools:",
      "- calc: adds",
      "  Input schema: {}",
      "- search: finds v2",
      """  Input schema: {"q":"string"}""",
      "",
      "## Conversation:",
      "user: q1",
      "assistant: a1",
      "user: q2",
      "assistant: a2",
      "",
      "## Query:",
      query))
  }

  test("assemble: a session and a task with no rows leave only tools and the query") {
    val (assembler, messages) = fullState
    val expected = prompt(
      "",
      "## Available Tools:",
      "- calc: adds",
      "  Input schema: {}",
      "- search: finds v2",
      """  Input schema: {"q":"string"}""",
      "",
      "## Query:",
      "hello")
    assert(assembler.assemble("nobody", "hello", Some(99L), messages, 0L) === expected)
    assert(assembler.assemble("nobody", "hello", None, messages, 0L) === expected)
  }

  test("assemble: empty stores give the rules and the query") {
    import spark.implicits._
    val assembler = ContextAssembler(
      MemoryStore.empty(spark), TaskStore.empty(spark), spark.emptyDataset[Tool])
    assert(assembler.assemble("s1", "hello", Some(1L), spark.emptyDataset[Message], 0L) ===
      prompt("", "## Query:", "hello"))
  }

  test("analyze: the update prompt holds the tail batch in ts order and the session's topics") {
    val (assembler, _) = fullState
    val provider = new Recording
    assert(assembler.memory.analyze("s1", provider) ===
      Some(MemoryAnalysis(None, Nil, Nil)))
    assert(provider.prompts.toSeq === Seq(MemoryStore.updatePrompt(
      s"[${ts(14)}] note four\n[${ts(15)}] note five",
      Seq("gamma", "delta", "beta", "alpha"))))
    // the records keep java.sql.Timestamp's rendering, fraction included
    assert(ts(15).toString.endsWith(":15.0"))
    assert(provider.prompts.head.contains(s"\n    [${ts(14)}] note four\n"))
  }

  test("analyze: None, and no provider call, for a session with no records") {
    val (assembler, _) = fullState
    val provider = new Recording
    assert(assembler.memory.analyze("nobody", provider).isEmpty)
    assert(provider.prompts.isEmpty)
  }

  test("analyze: a session without topics says None") {
    val provider = new Recording
    import spark.implicits._
    MemoryStore.empty(spark).copy(records = Seq(MemoryRecord("s", ts(5), "only")).toDS())
      .analyze("s", provider)
    assert(provider.prompts.toSeq === Seq(MemoryStore.updatePrompt(s"[${ts(5)}] only", Nil)))
    assert(provider.prompts.head.contains("Current Topics: None"))
  }

  test("tasksView: counts, last_updated and the JSON columns in order") {
    import spark.implicits._
    val file = ExtractedFileRow(1L, ts(6), "a.txt", "note", "c", 1L, "text", Map.empty)
    val tasks = TaskStore(
      Seq(TaskRow(2L, "plan", "Two", "t2", "", "p2", ts(2)),
        TaskRow(1L, "chat", "One", "t1", "", "p1", ts(1))).toDS(),
      Seq(TaskLog(1L, ts(5), "q", "r", Nil, Map.empty, null),
        TaskLog(1L, ts(7), "q", "r", Nil, Map.empty, null),
        TaskLog(9L, ts(50), "q", "orphan log", Nil, Map.empty, null)).toDS(),
      Seq(file, file.copy(filename = "b.txt"), file.copy(taskId = 9L)).toDS())
    assert(tasks.tasksView.toJSON.collect().toSeq === Seq(
      """{"taskId":1,"taskType":"chat","title":"One","target":"t1","progress":"p1",""" +
        """"logs_count":2,"files_count":2,"last_updated":"1970-01-01T00:00:07.000Z"}""",
      """{"taskId":2,"taskType":"plan","title":"Two","target":"t2","progress":"p2",""" +
        """"logs_count":0,"files_count":0,"last_updated":"1970-01-01T00:00:02.000Z"}"""))
  }
}
