package graft

import java.io.{BufferedReader, PrintStream}
import java.sql.Timestamp

import graft.memory.MemoryStore
import graft.model.{Message, TaskRow, Tool}
import graft.provider.{Provider, StubProvider}
import graft.serve.ChatService
import graft.task.TaskStore
import org.apache.spark.sql.{Dataset, SparkSession}

/** Interactive CLI chat loop (reference client.py:339-396): free-text
  * turns through the full ReAct dataflow plus the reference's slash
  * commands — `/mem_ops` (memory records + topics), `/tools` (registry
  * view), `/task new <target>` / `/task load <id>`, `/quit`. Each
  * assistant response also lands on the commit-log push topic via
  * [[ChatService]], so a streaming consumer sees the interactive
  * session the same way it sees the HTTP one.
  *
  * The loop is `run(in, out)` over injected streams so a spec can
  * script a whole session; `main` wires real stdin/stdout with the
  * deterministic stub provider (swap in an Http*Provider to talk to a
  * live endpoint).
  */
object AgentRepl {

  def run(spark: SparkSession, provider: Provider,
      tools: Dataset[Tool], pushLogDir: String,
      in: BufferedReader, out: PrintStream,
      sessionId: String = "repl"): Unit = {
    import spark.implicits._
    val svc = new ChatService(provider,
      ChatService.State(MemoryStore.empty(spark), TaskStore.empty(spark),
        spark.emptyDataset[Message]),
      tools, pushLogDir)
    var curTask: Option[Long] = None
    var nextTaskId = 1L
    var tick = 0L
    def now(): Timestamp = { tick += 1; new Timestamp(tick * 1000L) }
    out.println("graft repl — /task new <target> | /task load <id> | /mem_ops | /tools | /quit")
    var line = in.readLine()
    while (line != null) {
      val trimmed = line.trim
      trimmed match {
        case "" => ()
        case "/quit" => return
        case "/mem_ops" =>
          val st = svc.state
          val recs = st.memory.records.orderBy("ts").collect()
          out.println(s"memory records (${recs.length}):")
          recs.foreach(r => out.println(s"  - ${r.content}"))
          val topics = st.memory.topics
            .orderBy("name").select("name", "description", "frequency")
            .collect()
          out.println(s"topics (${topics.length}):")
          topics.foreach(t => out.println(s"  - ${t.getString(0)}: ${t.getString(1)} (${t.getLong(2)})"))
        case "/tools" =>
          val ts = tools.orderBy("name").collect()
          out.println(s"tools (${ts.length}):")
          ts.foreach(t => out.println(s"  - ${t.name} [${t.server}]: ${t.description}"))
        case t if t.startsWith("/task new ") =>
          val target = t.stripPrefix("/task new ").trim
          val id = nextTaskId
          nextTaskId += 1
          svc.updateState(st => st.copy(tasks = st.tasks.upsertTask(
            TaskRow(id, "chat", "", target, "", "new", now()))))
          curTask = Some(id)
          out.println(s"task $id created and loaded")
        case t if t.startsWith("/task load ") =>
          t.stripPrefix("/task load ").trim.toLongOption match {
            case Some(id) => curTask = Some(id); out.println(s"task $id loaded")
            case None => out.println("usage: /task load <id>")
          }
        case t if t.startsWith("/") =>
          out.println(s"unknown command: $t")
        case query =>
          val (resp, iters) = svc.processTurn(sessionId, query, curTask, now())
          out.println(s"agent> $resp")
          out.println(s"  [$iters iteration(s)${curTask.fold("")(id => s", task $id")}]")
      }
      line = in.readLine()
    }
  }

  def main(args: Array[String]): Unit = {
    val spark = EngineSession.builder("4").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    val stub = new StubProvider(canned = Seq(
      "## Query:\nwhat dedup methods exist?" ->
        """```json
{"text": "MinHash-LSH for Jaccard, SimHash for Hamming, embeddings for semantic similarity.",
 "mem_op": {"name": "add_memory_record",
            "args": {"memory": "user asked about dedup methods"}},
 "finished": true}
```"""))
    val tools = Seq(
      Tool("search_docs", "keyword search over the corpus",
        """{"type":"object","properties":{}}""", "local", 0)).toDS()
    val pushDir = java.nio.file.Files.createTempDirectory("graft_repl_push").toString
    val in = new BufferedReader(new java.io.InputStreamReader(System.in))
    try run(spark, stub, tools, pushDir, in, System.out)
    finally spark.stop()
  }
}
