package graft

import java.nio.file.Files
import java.sql.Timestamp

import graft.memory.MemoryStore
import graft.model._
import graft.provider.StubProvider
import graft.serve.ChatService
import graft.task.TaskStore

/** Runnable end-to-end demo of the agent data plane: a scripted
  * two-query session through the full §3.1 lifecycle (context assembly
  * → provider → parse → memory ops → task log + file extraction →
  * post-turn memory update), committed by [[graft.serve.ChatService]]
  * (which also pushes each response to a temporary commit-log topic)
  * and printed as the reference's API views (app.py:140-175, 329-347).
  * Deterministic — the provider is a stub.
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

    val svc = new ChatService(stub,
      ChatService.State(MemoryStore.empty(spark),
        TaskStore.empty(spark).upsertTask(
          TaskRow(1L, "plan", "", "create a dedup pipeline. for web text", "", "", ts(1))),
        spark.emptyDataset[Message]),
      spark.emptyDataset[Tool],
      Files.createTempDirectory("graft_demo_push").toString)

    Seq("what dedup methods exist?", "write up a plan").zipWithIndex.foreach {
      case (q, i) =>
        println(s"\n=== query: $q")
        svc.processTurn("demo", q, Some(1L), ts(10 + i))
        svc.state.messages.where($"ts" === ts(10 + i)).orderBy("seq").as[Message]
          .collect().foreach(m => println(s"  [${m.role}] ${m.content.take(100)}"))
    }

    val st = svc.state
    println("\n=== /api/tasks view")
    st.tasks.tasksView.show(truncate = false)
    println("=== task 1 file summary: " + st.tasks.fileSummary(1L))
    println("\n=== /api/memory view")
    println("records: " + st.memory.records.count())
    st.memory.latestSummary.show(truncate = false)
    st.memory.topics.select("name", "description", "frequency").show(truncate = false)
    spark.stop()
  }

  private def ts(s: Long) = new Timestamp(s * 1000L)
}
