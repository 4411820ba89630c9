package graft.agent

import java.sql.Timestamp

import graft.context.ContextAssembler
import graft.functions.AgentText
import graft.functions.AgentText.{JBool, JNum, JObj, JStr}
import graft.memory.{MemoryAnalysis, MemoryStore}
import graft.model._
import graft.provider.Provider
import graft.serve.Snapshot
import graft.task.TaskStore

/** One parsed structured response (F5; reference client.py:194-214). */
final case class AgentResponse(
    text: String, think: String,
    memOp: Option[(String, String)],  // (name, argsJson)
    tool: Option[(String, String)],
    finished: Boolean)

object AgentResponse {
  /** `_extract_output`: fenced JSON → fields, `finished` via the
    * boolean-coercion suite (F7). Missing/bad JSON → plain text turn. */
  def parse(raw: String): AgentResponse = {
    val (content, data) = AgentText.splitContentAndJson(raw)
    data match {
      case Some(JObj(fields)) =>
        def str(k: String): String = fields.get(k) match {
          case Some(JStr(s)) => s; case _ => ""
        }
        def action(k: String): Option[(String, String)] = fields.get(k) match {
          case Some(JObj(a)) =>
            val name = a.get("name") match { case Some(JStr(s)) => s; case _ => "" }
            val args = a.get("args") match {
              case Some(o: JObj) => AgentText.renderJson(o)
              case _ => "{}"
            }
            if (name.nonEmpty) Some(name -> args) else None
          case _ => None
        }
        val finished = fields.get("finished") match {
          case Some(JBool(b)) => b
          case Some(JStr(s)) => AgentText.convertToBoolean(s).getOrElse(false)
          case Some(JNum(d)) => d == 1.0
          case _ => false
        }
        AgentResponse(str("text"), str("think"), action("mem_op"), action("tool"), finished)
      case None => AgentResponse(content, "", None, None, finished = true)
    }
  }

}

/** The ReAct micro-batch loop (ST1; reference client.py:216-333): per
  * query, up to [[ReactLoop.MaxIters]] iterations of assemble →
  * provider → parse → act → append, then the task-log record, file
  * extraction and the post-turn memory analysis. The loop reads a
  * [[Snapshot]]'s rows, runs no Spark job and commits nothing: it
  * returns the turn's writes ([[ReactLoop.Writes]]) and
  * [[graft.serve.ChatService]] commits them once. With a
  * [[graft.provider.StubProvider]] the whole lifecycle is a pure,
  * testable function of the snapshot.
  */
final class ReactLoop(
    provider: Provider,
    // S9 — the external tool-dispatch seam (manager.py:236-250): the
    // executor receives a resolved (name, argsJson) and returns the
    // tool's text result, which is appended to the conversation so the
    // next iteration sees it (client.py:287-321).
    toolExecutor: (String, String) => String = (n, _) => s"[no executor for $n]") {

  /** One turn of `query` in `sessionId`, read from `snap`. Each
    * iteration assembles its prompt from `snap` with the turn's writes
    * so far committed (its messages, records and KV puts; the reference
    * re-assembles from the growing message list, client.py:218,221, so
    * tool results are visible), and the post-turn analysis reads the
    * same view. */
  def processQuery(
      sessionId: String, query: String, snap: Snapshot,
      taskId: Option[Long], now: Timestamp): ReactLoop.Outcome = {
    val newMessages = Seq.newBuilder[Message]
    val addedRecords = Seq.newBuilder[MemoryRecord]
    val puts = Seq.newBuilder[KvEntry]
    def view = snap.commit(sessionId, now, ReactLoop.Writes(newMessages.result(),
      addedRecords.result(), puts.result(), None, Nil, None))
    var seq = 0L
    newMessages += Message(sessionId, seq, "user", query, now)
    var lastResponseText = ""
    var iter = 0
    var done = false
    while (iter < ReactLoop.MaxIters && !done) {
      val prompt = ContextAssembler.prompt(view, sessionId, query, taskId, 0L)
      val response = AgentResponse.parse(provider.generateResponse(prompt))
      if (response.think.nonEmpty) {
        seq += 1
        newMessages += Message(sessionId, seq, "assistant-think", response.think, now)
      }
      if (response.text.nonEmpty) {
        seq += 1
        newMessages += Message(sessionId, seq, "assistant", response.text, now)
        lastResponseText = response.text
      }
      var actedOnTool = false
      response.memOp.foreach { case (name, args) =>
        // the add-record/add-data ops (memory.py:249-261) go into the writes
        (name, AgentText.parseJson5ish(args)) match {
          case ("add_memory_record", Some(JObj(f))) =>
            f.get("memory").collect { case JStr(m) =>
              addedRecords += MemoryRecord(sessionId, now, m)
            }
          case ("add_memory_data", Some(JObj(f))) =>
            (f.get("key"), f.get("value")) match {
              case (Some(JStr(k)), Some(JStr(v))) => puts += KvEntry(sessionId, k, v)
              case _ => ()
            }
          case _ => ()
        }
      }
      response.tool.foreach { case (name, args) =>
        // tool ran → its result joins the conversation and the loop
        // continues even if finished=true (client.py:289,326-327)
        actedOnTool = true
        val result = toolExecutor(name, args)
        seq += 1
        newMessages += Message(sessionId, seq, "tool", result, now)
      }
      iter += 1
      done = response.finished && !actedOnTool
    }
    // per-turn task update (task.py:491-627): a log record and files
    // extracted from the final response text
    val log = taskId.map(tid => TaskLog(
      tid, now, query, AgentText.summarize(lastResponseText),
      newMessages.result().map(m => s"${m.role}: ${AgentText.truncate(m.content, 80)}"),
      Map("iterations" -> iter.toString), null))
    val files = taskId.fold(Seq.empty[ExtractedFileRow])(
      TaskStore.extractFiles(_, now, lastResponseText, provider))
    // post-turn memory analysis (ST2) exactly once per query
    val last = view
    val analysis = MemoryStore.analyze(last.records.rows, last.topics.rows, sessionId,
      last.memory, provider)
    ReactLoop.Outcome(iter, ReactLoop.Writes(newMessages.result(),
      addedRecords.result(), puts.result(), log, files, analysis))
  }
}

object ReactLoop {
  /** The most iterations one turn runs. */
  val MaxIters = 5

  /** One turn's result: the iterations it ran and its writes, which the
    * caller commits. */
  final case class Outcome(iterations: Int, writes: Writes)

  /** One turn's writes as one driver-side delta: the messages it added
    * (the user's query, then each iteration's replies and tool results),
    * added records, KV puts in order, the task log record (the commit
    * caps it), extracted files and the post-turn memory analysis. */
  final case class Writes(
      messages: Seq[Message],
      records: Seq[MemoryRecord],
      puts: Seq[KvEntry],
      log: Option[TaskLog],
      files: Seq[ExtractedFileRow],
      analysis: Option[MemoryAnalysis])
}
