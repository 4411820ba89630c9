package graft

import java.sql.Timestamp

import graft.agent.ReactLoop
import graft.memory.MemoryStore
import graft.model._
import graft.provider.StubProvider
import graft.task.TaskStore

/** Runnable end-to-end demo of the agent data plane: a scripted
  * two-query session through the full §3.1 lifecycle (context assembly
  * → provider → parse → memory ops → task log + file extraction →
  * post-turn memory update), printed as the reference's API views
  * (app.py:140-175, 329-347). Deterministic — the provider is a stub.
  *
  * Usage: sbt "runMain graft.AgentDemo"
  */
object AgentDemo {

  def main(args: Array[String]): Unit = {
    val spark = EngineSession.builder("4").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    val stub = new StubProvider(canned = Seq(
      "Analyze the following memory records" ->
        """```json
{"summary": "User is researching Spark-based dedup strategies.",
 "topics": {"dedup": "near-duplicate detection approaches"},
 "key_facts": ["corpus is web text"]}
```""",
      "## Query:\nwhat dedup methods exist?" ->
        """```json
{"text": "MinHash-LSH for Jaccard, SimHash for Hamming, embeddings for semantic similarity.",
 "mem_op": {"name": "add_memory_record",
            "args": {"memory": "user asked about dedup methods"}},
 "finished": true}
```""",
      "## Query:\nwrite up a plan" ->
        """```json
{"text": "PLAN_START Shingle the corpus, build MinHash signatures, band them, verify candidates with exact Jaccard, then cluster the matches and keep one canonical document per cluster for the training set. PLAN_END",
 "finished": true}
```""",
      "identify extractable file content" ->
        """```json
{"files": [{"start_marker": "PLAN_START", "end_marker": "PLAN_END",
            "content_type": "plan", "title": "Dedup Plan", "description": "pipeline plan"}]}
```"""))

    val loop = new ReactLoop(stub)
    var memory = MemoryStore.empty(spark)
    var tasks = TaskStore.empty(spark)
      .upsertTask(TaskRow(1L, "plan", "", "create a dedup pipeline. for web text", "", "", ts(1)))
    val tools = spark.emptyDataset[Tool]
    val messages = spark.emptyDataset[Message]

    Seq("what dedup methods exist?", "write up a plan").zipWithIndex.foreach {
      case (q, i) =>
        println(s"\n=== query: $q")
        val out = loop.processQuery("demo", q, memory, tasks, tools, messages,
          Some(1L), ts(10 + i))
        memory = out.memory
        tasks = out.tasks
        out.newMessages.foreach(m => println(s"  [${m.role}] ${m.content.take(100)}"))
    }

    println("\n=== /api/tasks view")
    tasks.tasksView.show(truncate = false)
    println("=== task 1 file summary: " + tasks.fileSummary(1L))
    println("\n=== /api/memory view")
    println("records: " + memory.records.count())
    memory.latestSummary.show(truncate = false)
    memory.topics.select("name", "description", "frequency").show(truncate = false)
    spark.stop()
  }

  private def ts(s: Long) = new Timestamp(s * 1000L)
}
