package graft.context

import graft.memory.MemoryStore
import graft.model.{Message, Tool}
import graft.registry.Registry
import graft.task.TaskStore
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.functions._

/** The §3.1 prompt assembly (reference client.py:107-186): one flat
  * prompt string built from system rules + memory static/dynamic
  * context + task context + tool list + conversation history. Each
  * section is a small DataFrame query over the stores — the "one real
  * query" of the reference's lifecycle, here a multi-source Spark job.
  */
final case class ContextAssembler(
    memory: MemoryStore, tasks: TaskStore, tools: Dataset[Tool]) {

  /** Memory dynamic context (memory.py:117-144): latest summary (A5) +
    * tail records (P1) + rag-relevant topics and KV pairs (F3). */
  def memoryDynamicContext(sessionId: String, query: String): String = {
    val spark = memory.records.sparkSession
    import spark.implicits._
    val parts = Seq.newBuilder[String]
    memory.latestSummary.filter($"sessionId" === sessionId)
      .select("text").as[String].collect().headOption
      .foreach(s => parts += s"\n## Memory Summary:\n$s")
    val tail = memory.tailRecords(memory.config.latestRecordNum)
      .filter($"sessionId" === sessionId).orderBy($"ts")
      .select(concat(lit("- ["), $"ts", lit("] "), $"content")).as[String].collect()
    if (tail.nonEmpty) parts += ("\n## Latest Memory Records:" +: tail).mkString("\n")
    val topics = memory.relevantTopics(sessionId, query)
      .select("cleaned").as[String].collect()
    if (topics.nonEmpty)
      parts += ("\n## Memory Topics:" +: topics.map("- " + _)).mkString("\n")
    val kvs = memory.relevantKv(sessionId, query)
      .select("cleaned").as[String].collect()
    if (kvs.nonEmpty)
      parts += ("\n## Memory Database (Key-Value Pairs):" +: kvs.map("- " + _)).mkString("\n")
    parts.result().mkString("\n")
  }

  /** Task dynamic context (task.py:306-325): working-task fields + the
    * latest log entries. */
  def taskDynamicContext(taskId: Long): String = {
    val spark = tasks.tasks.sparkSession
    import spark.implicits._
    val parts = Seq.newBuilder[String]
    tasks.tasks.filter($"taskId" === taskId).collect().headOption.foreach { t =>
      parts += s"\n## Working Task: ${t.title}"
      if (t.target.nonEmpty) parts += s"Target: ${t.target}"
      if (t.plan.nonEmpty) parts += s"Plan: ${t.plan}"
      if (t.progress.nonEmpty) parts += s"Progress: ${t.progress}"
    }
    tasks.logs.filter($"taskId" === taskId)
      .orderBy(desc("ts")).limit(1).collect().headOption.foreach { log =>
        parts += s"Latest log [${log.ts}]: ${log.responseSummary}"
      }
    parts.result().mkString("\n")
  }

  /** Tool list with schemas (client.py:167-175 over U1). */
  def toolContext: String = {
    val rows = Registry.unionLastWins(tools)
      .orderBy(col("name")).collect()
    if (rows.isEmpty) ""
    else ("\n## Available Tools:" +: rows.toSeq.map(t =>
      s"- ${t.name}: ${t.description}\n  Input schema: ${t.inputSchema}")).mkString("\n")
  }

  /** Conversation history slice (client.py:177-183, P8), oldest turn
    * first: `seq` restarts at 0 every turn, so order by `(ts, seq)`. */
  def historyContext(messages: Dataset[Message], sessionId: String, fromSeq: Long): String = {
    val spark = messages.sparkSession
    import spark.implicits._
    val rows = messages
      .filter($"sessionId" === sessionId && $"seq" >= fromSeq)
      .orderBy($"ts", $"seq")
      .select(concat($"role", lit(": "), $"content")).as[String].collect()
    if (rows.isEmpty) "" else ("\n## Conversation:" +: rows.toSeq).mkString("\n")
  }

  /** The full prompt (client.py:107-186 assembly order). */
  def assemble(
      sessionId: String, query: String, taskId: Option[Long],
      messages: Dataset[Message], fromSeq: Long): String = {
    val sections = Seq(
      ContextAssembler.systemRules,
      memoryDynamicContext(sessionId, query),
      taskId.map(taskDynamicContext).getOrElse(""),
      toolContext,
      historyContext(messages, sessionId, fromSeq),
      s"\n## Query:\n$query")
    sections.filter(_.nonEmpty).mkString("\n")
  }
}

object ContextAssembler {
  /** Condensed system rules (client.py:109-137 shape). */
  val systemRules: String =
    """You are a helpful agent. Respond with text, and when you take an
action respond in JSON enclosed in triple backticks with fields:
"text", "think", "mem_op" {"name", "args"}, "tool" {"name", "args"},
"finished" (boolean)."""
}
