package graft

import java.nio.file.Files
import java.sql.Timestamp
import java.util.concurrent.atomic.AtomicInteger

import graft.context.ContextAssembler
import graft.memory.{MemoryConfig, MemoryStore}
import graft.model._
import graft.provider.{Provider, StubProvider}
import graft.serve.ChatService
import graft.task.TaskStore
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** A served chat turn reads the service's snapshot rows: it runs no
  * Spark job and no query, and the prompt it serves is the one
  * [[ContextAssembler.assemble]] reads from the same stores. */
class ServedTurnSpec extends SparkSpec {

  private def ts(s: Long) = new Timestamp(s * 1000L)
  private def fenced(json: String) = "```json\n" + json + "\n```"
  private def pushDir = Files.createTempDirectory("graft_served_turn").toString

  /** Records every prompt it is asked and answers with no analysis. */
  private final class Recording extends Provider {
    val prompts = scala.collection.mutable.ArrayBuffer[String]()
    def generateResponse(prompt: String): String = { prompts += prompt; "no json" }
  }

  private val Marker = "served_turn_marker"

  /** Counts Spark jobs and query executions other than the marker's. */
  private final class Counter extends SparkListener with QueryExecutionListener {
    val jobs = new AtomicInteger
    val execs = new AtomicInteger
    val markerJobs = new AtomicInteger
    val markerExecs = new AtomicInteger
    override def onJobStart(e: SparkListenerJobStart): Unit =
      if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == Marker))
        markerJobs.incrementAndGet()
      else jobs.incrementAndGet()
    def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = seen(qe)
    def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = seen(qe)
    private def seen(qe: QueryExecution): Unit =
      if (qe.analyzed.output.exists(_.name == Marker)) markerExecs.incrementAndGet()
      else execs.incrementAndGet()

    /** (jobs, executions) once every event posted so far was delivered:
      * run a marker query and wait until both listeners saw it (each
      * listener queue delivers in order). */
    def settled(): (Int, Int) = {
      val (j, x) = (markerJobs.get, markerExecs.get)
      val sc = spark.sparkContext
      sc.setJobGroup(Marker, Marker)
      try spark.range(3).toDF(Marker).collect()
      finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while ((markerJobs.get == j || markerExecs.get == x) && System.nanoTime() < deadline)
        Thread.sleep(10)
      assert(markerJobs.get > j && markerExecs.get > x, "the marker query was never delivered")
      (jobs.get, execs.get)
    }
  }

  test("a served turn runs no Spark job and no query execution") {
    import spark.implicits._
    val stub = new StubProvider(canned = Seq(
      "## Query:\nremember this" -> fenced(
        """{"text": "noted", "mem_op": {"name": "add_memory_record", "args": {"memory": "a note"}}, "finished": true}"""),
      "Analyze the following memory records" -> fenced(
        """{"summary": "sum", "topics": {"notes": "what was noted"}, "key_facts": ["f"]}""")))
    val tools = Seq(
      Tool("search", "finds v2", "{}", "srvB", 1L),
      Tool("search", "finds v1", "{}", "srvA", 0L)).toDS()
    val svc = new ChatService(stub, ChatService.State(MemoryStore.empty(spark),
      TaskStore.empty(spark).upsertTask(TaskRow(1L, "chat", "t", "t", "", "", ts(1))),
      spark.emptyDataset[Message]), tools, pushDir)
    val counter = new Counter
    spark.sparkContext.addSparkListener(counter)
    spark.listenerManager.register(counter)
    try {
      val before = counter.settled()
      val reply = svc.handle(
        """{"session_id": "s", "query": "remember this", "task_id": 1, "ts": 100}""")
      assert(counter.settled() === before)
      assert(reply.contains("noted"))
    } finally {
      spark.listenerManager.unregister(counter)
      spark.sparkContext.removeSparkListener(counter)
    }
    // the turn committed its record, task log and analysis
    val st = svc.state
    assert(st.memory.records.count() == 1 && st.tasks.logs.count() == 1)
    assert(st.memory.summaries.count() == 1 && st.memory.topics.count() == 1)
  }

  test("the served prompt is ContextAssembler.assemble's, last tool server winning") {
    import spark.implicits._
    // PromptPinSpec's fixture: every section non-empty for s1 and task 7
    val cfg = MemoryConfig(latestRecordNum = 3, updateBatchSize = 2, savedSummaryNum = 2,
      relevantTopicsNum = 2, relevantKvNum = 2)
    val records = Seq(
      MemoryRecord("s1", ts(14), "note four"), MemoryRecord("s1", ts(11), "note one"),
      MemoryRecord("s2", ts(16), "other session note"),
      MemoryRecord("s1", ts(15), "note five"), MemoryRecord("s1", ts(12), "note two"),
      MemoryRecord("s1", ts(13), "note three")).toDS()
    val topics = Seq(
      Topic("s1", "gamma", "memory", ts(1), ts(1), 1L),
      Topic("s2", "aaa", "memory dedup shards", ts(1), ts(1), 1L),
      Topic("s1", "delta", "nothing here", ts(1), ts(1), 1L),
      Topic("s1", "beta", "shards", ts(1), ts(1), 1L),
      Topic("s1", "alpha", "memory dedup", ts(1), ts(1), 1L)).toDS()
    val kv = Seq(
      KvEntry("s1", "k2", "shards tip"), KvEntry("s1", "k0", "unrelated"),
      KvEntry("s2", "k", "memory dedup shards"), KvEntry("s1", "k1", "memory tip")).toDS()
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
    val query = "memory dedup shards"

    val provider = new Recording
    val svc = new ChatService(provider, ChatService.State(memory, tasks, messages), tools, pushDir)
    svc.processTurn("s1", query, Some(7L), ts(300))
    // the turn's own query is the newest message its first prompt reads
    val live = messages.union(Seq(Message("s1", 0L, "user", query, ts(300))).toDS())
    val served = provider.prompts.head
    assert(served === ContextAssembler(memory, tasks, tools).assemble("s1", query, Some(7L), live, 0L))
    assert(served.contains(
      "\n## Available Tools:\n- calc: adds\n  Input schema: {}\n" +
        "- search: finds v2\n  Input schema: {\"q\":\"string\"}\n"))
    assert(!served.contains("finds v1"))
  }

  test("the record tail keeps the last appended of equal ts, in append order") {
    import spark.implicits._
    val at = ts(100)
    val notes = (1 to 12).map(i => f"r$i%02d")
    val memory = MemoryStore(notes.map(MemoryRecord("s", at, _)).toDS(),
      spark.emptyDataset[Summary], spark.emptyDataset[Topic], spark.emptyDataset[KvEntry],
      MemoryConfig(latestRecordNum = 10, updateBatchSize = 5))
    val prompt = ContextAssembler(memory, TaskStore.empty(spark), spark.emptyDataset[Tool])
      .assemble("s", "q", None, spark.emptyDataset[Message], 0L)
    assert(prompt.linesIterator.filter(_.startsWith("- [")).toSeq ===
      notes.drop(2).map(n => s"- [1970-01-01 00:01:40] $n"))
    val provider = new Recording
    memory.analyze("s", provider)
    assert(provider.prompts.head.contains(notes.drop(7).map(n => s"[$at] $n").mkString("\n")))
    assert(!provider.prompts.head.contains("r07"))
  }
}
