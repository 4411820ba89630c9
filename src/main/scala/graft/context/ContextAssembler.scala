package graft.context

import java.sql.Timestamp

import graft.memory.MemoryStore
import graft.model.{Message, Tool}
import graft.registry.Registry
import graft.task.TaskStore
import org.apache.spark.sql.{Column, DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._

/** The §3.1 prompt assembly (reference client.py:107-186): one flat
  * prompt string built from system rules + memory dynamic context +
  * task context + tool list + conversation history.
  *
  * The stores are read with one multi-source query per prompt. Each
  * section is a tagged branch over its store in one shape — (section,
  * k, name, ts, text): the section's own sort keys and its line text —
  * and [[assemble]] collects the union of the branches once. The driver
  * then orders each section's rows by its keys and lays them out under
  * the section's header. Branches over a table that grows with the
  * session keep their top-k in the plan (the record tail, topics and
  * KV, each a [[MemoryStore]] top-k), so the driver receives at most k
  * of their rows whatever the store's size; the bounded ones (summaries, the
  * task row, its logs) are picked on the driver. A top-k over more than
  * k rows plans as a TakeOrderedAndProject (a per-partition top-k and
  * one merge, inside the same job); no branch does a global
  * (range-shuffle) sort, so on driver-held stores the whole prompt is
  * one Spark job. Only a non-empty tool registry adds the shuffle of
  * its last-wins window ([[Registry.unionLastWins]]).
  */
final case class ContextAssembler(
    memory: MemoryStore, tasks: TaskStore, tools: Dataset[Tool]) {
  import ContextAssembler._

  /** Conversation history slice (client.py:177-183, P8), oldest turn
    * first: `seq` restarts at 0 every turn, so order by `(ts, seq)`. */
  def historyContext(messages: Dataset[Message], sessionId: String, fromSeq: Long): String =
    historySection(historyBranch(messages, sessionId, fromSeq).collect().toSeq)

  /** The full prompt (client.py:107-186 assembly order). */
  def assemble(
      sessionId: String, query: String, taskId: Option[Long],
      messages: Dataset[Message], fromSeq: Long): String = {
    val branches = memoryBranches(sessionId, query) ++ taskId.toSeq.flatMap(taskBranches) ++
      Seq(toolBranch, historyBranch(messages, sessionId, fromSeq))
    val rows = branches.reduce(_ union _).collect().toSeq.groupBy(_.getInt(0))
      .withDefaultValue(Seq.empty)
    // memory dynamic context (memory.py:117-144)
    val memoryPart = Seq(
      section("Memory Summary", rows(Summary).maxByOption(ts).map(text).toSeq),
      section("Latest Memory Records", rows(Tail).sortBy(ts).map(text)),
      section("Memory Topics", byScore(rows(Topics))),
      section("Memory Database (Key-Value Pairs)", byScore(rows(Kv)))).flatten
    // task dynamic context (task.py:306-325): task fields, latest log
    val taskPart = rows(Task).headOption.map(text) ++
      rows(Log).maxByOption(ts).map(r => s"Latest log [${ts(r)}]: ${text(r)}")
    // tool list (client.py:167-175 over U1)
    val toolLines = rows(Tools).sortBy(_.getString(2)).map(text)
    Seq(
      ContextAssembler.systemRules,
      memoryPart.mkString("\n"),
      taskPart.mkString("\n"),
      section("Available Tools", toolLines).getOrElse(""),
      historySection(rows(History)),
      s"\n## Query:\n$query").filter(_.nonEmpty).mkString("\n")
  }

  /** Latest summary (A5), tail records (P1), rag-relevant topics and
    * KV pairs (F3) of the session. */
  private def memoryBranches(sessionId: String, query: String): Seq[DataFrame] = {
    val own = col("sessionId") === sessionId
    Seq(
      branch(Summary, memory.summaries.filter(own), col("text"), ts = col("ts")),
      branch(Tail, memory.recentRecords(sessionId, memory.config.latestRecordNum),
        concat(lit("- ["), col("ts"), lit("] "), col("content")), ts = col("ts")),
      branch(Topics, memory.relevantTopics(sessionId, query),
        concat(lit("- "), col("cleaned")), k = col("score"), name = col("name")),
      branch(Kv, memory.relevantKv(sessionId, query),
        concat(lit("- "), col("cleaned")), k = col("score"), name = col("key")))
  }

  /** The working task's fields as one text block, and its latest log. */
  private def taskBranches(taskId: Long): Seq[DataFrame] = {
    val own = col("taskId") === taskId
    def field(label: String, c: String) =
      when(col(c) =!= "", concat(lit(s"$label: "), col(c)))
    Seq(
      branch(Task, tasks.tasks.filter(own), concat_ws("\n",
        concat(lit("\n## Working Task: "), col("title")),
        field("Target", "target"), field("Plan", "plan"), field("Progress", "progress"))),
      branch(Log, tasks.logs.filter(own), col("responseSummary"), ts = col("ts")))
  }

  private def toolBranch: DataFrame =
    branch(Tools, Registry.unionLastWins(tools), concat(lit("- "), col("name"), lit(": "),
      col("description"), lit("\n  Input schema: "), col("inputSchema")), name = col("name"))
}

object ContextAssembler {
  /** Condensed system rules (client.py:109-137 shape). */
  val systemRules: String =
    """You are a helpful agent. Respond with text, and when you take an
action respond in JSON enclosed in triple backticks with fields:
"text", "think", "mem_op" {"name", "args"}, "tool" {"name", "args"},
"finished" (boolean)."""

  // section tags, in prompt order
  private val Summary = 0
  private val Tail = 1
  private val Topics = 2
  private val Kv = 3
  private val Task = 4
  private val Log = 5
  private val Tools = 6
  private val History = 7

  /** One section's rows in the shape every branch shares. */
  private def branch(section: Int, rows: Dataset[_], text: Column,
      k: Column = lit(null), name: Column = lit(null), ts: Column = lit(null)): DataFrame =
    rows.select(lit(section).as("section"), k.cast("long").as("k"),
      name.cast("string").as("name"), ts.cast("timestamp").as("ts"), text.as("text"))

  private def historyBranch(messages: Dataset[Message], sessionId: String, fromSeq: Long) =
    branch(History, messages.filter(col("sessionId") === sessionId && col("seq") >= fromSeq),
      concat(col("role"), lit(": "), col("content")), k = col("seq"), ts = col("ts"))

  private def text(r: Row): String = r.getString(4)
  private def ts(r: Row): Timestamp = r.getTimestamp(3)

  /** Highest score first, ties by name. */
  private def byScore(rows: Seq[Row]): Seq[String] =
    rows.sortBy(r => (-r.getLong(1), r.getString(2))).map(text)

  private def section(header: String, lines: Seq[String]): Option[String] =
    if (lines.isEmpty) None else Some((s"\n## $header:" +: lines).mkString("\n"))

  private def historySection(rows: Seq[Row]): String =
    section("Conversation", rows.sortBy(r => (ts(r), r.getLong(1))).map(text))
      .getOrElse("")
}
