package graft.context

import java.sql.Timestamp
import java.time.ZoneId

import graft.memory.MemoryStore
import graft.model.{Message, TaskRow, Tool}
import graft.registry.Registry
import graft.serve.{ChatService, Snapshot}
import graft.task.TaskStore
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.catalyst.util.{DateTimeUtils, TimestampFormatter}
import org.apache.spark.sql.functions.{col, lit}

/** The §3.1 prompt assembly (reference client.py:107-186): one flat
  * prompt string built from system rules + memory dynamic context +
  * task context + tool list + conversation history.
  *
  * [[ContextAssembler.prompt]] reads the prompt from a [[Snapshot]]'s
  * driver-held rows with pure rules, so a served chat turn runs no
  * Spark job and analyzes no plan: the session's newest records
  * ([[MemoryStore.tail]]), its topics and KV pairs by keyword score
  * ([[MemoryStore.byRelevance]]), its latest summary, the task row and
  * its latest log (the last appended of the newest `ts`), the resolved
  * tools by name and the history by `(ts, seq)`. This case class is
  * the Dataset entry point: [[assemble]] collects the session's and
  * the task's rows of the stores and applies the same rules.
  */
final case class ContextAssembler(
    memory: MemoryStore, tasks: TaskStore, tools: Dataset[Tool]) {
  import ContextAssembler._

  /** The full prompt ([[ContextAssembler.prompt]]) over the session's
    * and the task's rows of the stores, with the tools resolved last
    * server wins. */
  def assemble(
      sessionId: String, query: String, taskId: Option[Long],
      messages: Dataset[Message], fromSeq: Long): String = {
    val own = col("sessionId") === sessionId
    val task = taskId.fold(lit(false))(col("taskId") === _)
    val rows = Snapshot.of(ChatService.State(
      memory.copy(records = memory.records.filter(own), summaries = memory.summaries.filter(own),
        topics = memory.topics.filter(own), kv = memory.kv.filter(own)),
      tasks.copy(tasks = tasks.tasks.filter(task), logs = tasks.logs.filter(task),
        files = tasks.files.filter(task)),
      messages.filter(own)), Registry.unionLastWins(tools).collect().toSeq)
    prompt(rows, sessionId, query, taskId, fromSeq)
  }
}

object ContextAssembler {
  /** Condensed system rules (client.py:109-137 shape). */
  val systemRules: String =
    """You are a helpful agent. Respond with text, and when you take an
action respond in JSON enclosed in triple backticks with fields:
"text", "think", "mem_op" {"name", "args"}, "tool" {"name", "args"},
"finished" (boolean)."""

  /** The full prompt of `sessionId` (client.py:107-186 assembly order)
    * from `rows`: the memory dynamic context (memory.py:117-144), the
    * task's fields and latest log when `taskId` is set (task.py:306-325),
    * the tools (client.py:167-175 over U1), the history from `fromSeq`
    * and the query. */
  def prompt(rows: Snapshot, sessionId: String, query: String, taskId: Option[Long],
      fromSeq: Long): String = {
    val cfg = rows.memory
    val zone = rows.zone
    def own[T](t: Snapshot.Table[T])(session: T => String): Seq[T] =
      t.rows.filter(session(_) == sessionId)
    val memoryPart = Seq(
      section("Memory Summary", own(rows.summaries)(_.sessionId).maxByOption(_.ts).map(_.text).toSeq),
      section("Latest Memory Records", MemoryStore.tail(rows.records.rows, sessionId,
        cfg.latestRecordNum).map(r => s"- [${castString(r.ts, zone)}] ${r.content}")),
      section("Memory Topics", MemoryStore.byRelevance(own(rows.topics)(_.sessionId)
        .map(t => t.name -> t.description), query, cfg.relevantTopicsNum).map("- " + _)),
      section("Memory Database (Key-Value Pairs)", MemoryStore.byRelevance(own(rows.kv)(_.sessionId)
        .map(e => e.key -> e.value), query, cfg.relevantKvNum).map("- " + _))).flatten
    val taskPart = taskId.toSeq.flatMap { id =>
      rows.tasks.rows.find(_.taskId == id).map(taskBlock) ++
        rows.logs.rows.filter(_.taskId == id).sortBy(_.ts).lastOption
          .map(l => s"Latest log [${l.ts}]: ${l.responseSummary}")
    }
    val toolLines = rows.tools.sortBy(_.name)
      .map(t => s"- ${t.name}: ${t.description}\n  Input schema: ${t.inputSchema}")
    Seq(
      systemRules,
      memoryPart.mkString("\n"),
      taskPart.mkString("\n"),
      section("Available Tools", toolLines).getOrElse(""),
      history(rows.messages.rows, sessionId, fromSeq),
      s"\n## Query:\n$query").filter(_.nonEmpty).mkString("\n")
  }

  /** `CAST(ts AS STRING)` in `zone`: Spark's own formatter over the
    * value Spark stores for `ts` (microseconds, rebased to the
    * proleptic Gregorian calendar as the encoder does). */
  def castString(ts: Timestamp, zone: ZoneId): String =
    TimestampFormatter.getFractionFormatter(zone).format(DateTimeUtils.fromJavaTimestamp(ts))

  /** The working task's title and its non-empty fields, one per line. */
  private def taskBlock(t: TaskRow): String =
    (Option(t.title).map("\n## Working Task: " + _) ++
      Seq("Target" -> t.target, "Plan" -> t.plan, "Progress" -> t.progress).collect {
        case (label, v) if v != null && v.nonEmpty => s"$label: $v"
      }).mkString("\n")

  /** Conversation history slice (client.py:177-183, P8), oldest turn
    * first: `seq` restarts at 0 every turn, so order by `(ts, seq)`. */
  private def history(messages: Seq[Message], sessionId: String, fromSeq: Long): String =
    section("Conversation", messages.filter(m => m.sessionId == sessionId && m.seq >= fromSeq)
      .sortBy(m => (m.ts, m.seq)).map(m => s"${m.role}: ${m.content}")).getOrElse("")

  private def section(header: String, lines: Seq[String]): Option[String] =
    if (lines.isEmpty) None else Some((s"\n## $header:" +: lines).mkString("\n"))
}
