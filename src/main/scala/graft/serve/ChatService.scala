package graft.serve

import java.sql.Timestamp

import graft.agent.ReactLoop
import graft.functions.AgentText
import graft.functions.AgentText.{JNum, JObj, JStr, JVal}
import graft.io.CommitLog
import graft.memory.MemoryStore
import graft.model.{Message, Tool}
import graft.provider.Provider
import graft.registry.Registry
import graft.task.TaskStore
import org.apache.spark.sql.Dataset

/** The write-side chat turn (reference app.py:396-444 end-to-end):
  * `POST /chat {"session_id": ..., "query": ..., "task_id"?: n,
  * "ts"?: epochSeconds}` runs one full ReAct turn ([[ReactLoop]]:
  * assemble → provider → parse → mem ops → tool dispatch → task log)
  * against the live stores, APPENDS the assistant response to a
  * commit-log topic — the push channel: any consumer tailing that
  * topic through the `commit-log` stream source receives the turn,
  * which is the engine's analog of the reference's
  * `socketio.emit('chat_response', ...)` (app.py:433-438) with
  * replay/offset semantics the websocket never had — and returns the
  * response JSON to the caller.
  *
  * State: one immutable [[Snapshot]] held in the service's one mutable
  * field. It is the turn's read model: the committed stores as
  * driver-held rows, one `Seq` per table, the analog of the reference's
  * in-process lists (memory.py:263-357), with the memory and task
  * configs of the state it was collected from and the tool
  * registry, resolved last server wins once, at construction. A turn
  * reads the snapshot with pure row rules ([[ReactLoop]] assembles its
  * prompts and runs its memory analysis on it), so serving a turn runs
  * no Spark job and analyzes no plan. It commits by folding its one
  * delta, [[ReactLoop.Writes]], into the rows ([[Snapshot.commit]])
  * with the same pure rules the streaming path uses. [[state]], the
  * Datasets published for the GET views, is built lazily by its first
  * reader, one local relation per table: a commit builds none, a table
  * the turn did not write keeps its Dataset, and no plan carries an
  * earlier turn's unions. `state0` is collected once, at construction,
  * and [[updateState]] collects the edited state, configs included.
  *
  * [[handle]] answers a malformed POST body (not a JSON object, no
  * `query`, or a field of the wrong type) with [[BadRequest]], which
  * the server maps to a 400.
  *
  * Turns are serialized on the service's own monitor (`synchronized`):
  * chat state transitions are single-writer per service, the same
  * per-process session contract as the reference; reads (the GET
  * views) observe the latest committed snapshot via [[state]]. A turn
  * pushes before it publishes: the new snapshot becomes [[state]] only
  * after the commit-log append succeeds, so a turn whose push failed is
  * not committed and a client retry does not apply it twice. The push
  * goes to the session's partition of `pushLogDir`, one of
  * [[ChatService.PushPartitions]].
  */
final class ChatService(
    provider: Provider,
    state0: ChatService.State,
    tools: Dataset[Tool],
    pushLogDir: String) {

  @volatile private var snapshot =
    Snapshot.of(state0, Registry.unionLastWins(tools).collect().toSeq)

  private val loop = new ReactLoop(provider)

  /** Latest committed store state (for wiring GET views), built by its
    * first reader. */
  def state: ChatService.State = snapshot.state

  /** External state edit (e.g. a REPL's `/task new`), serialized with
    * turn processing; collects the edited state into a new snapshot. */
  def updateState(f: ChatService.State => ChatService.State): Unit =
    synchronized { snapshot = Snapshot.of(f(snapshot.state), snapshot.tools) }

  /** One chat turn: run the ReAct loop on the committed snapshot, push
    * the assistant response onto the commit log, then commit the new
    * snapshot. Returns (responseText, iterations). */
  def processTurn(sessionId: String, query: String, taskId: Option[Long],
      now: Timestamp): (String, Int) = synchronized {
    val snap = snapshot
    val out = loop.processQuery(sessionId, query, snap, taskId, now)
    val next = snap.commit(sessionId, now, out.writes)
    val responseText = out.writes.messages.reverse
      .collectFirst { case m if m.role == "assistant" => m.content }
      .getOrElse("")
    // push channel: append to the session's log partition; consumers
    // tail it via spark.readStream.format("commit-log")
    CommitLog.append(pushLogDir,
      CommitLog.partitionOf(sessionId, ChatService.PushPartitions),
      Seq((now.getTime * 1000L, sessionId, responseText)))
    snapshot = next
    (responseText, out.iterations)
  }

  /** One POST body → one turn → response JSON. A body that is not a
    * JSON object, has no `query`, or has a field of the wrong type (a
    * non-string `session_id` or `query`, a `task_id` that is not an
    * integer in Long's range, a `ts` that is not a number whose
    * milliseconds fit a Long) throws [[BadRequest]] (the server answers 400);
    * any other failure is the server's (500). */
  def handle(body: String): String = {
    val fields = AgentText.parseJson5ish(body) match {
      case Some(JObj(f)) => f
      case _ => throw new BadRequest("body is not a JSON object")
    }
    // a field that is present must have its type: a silent default
    // would commit the turn somewhere the caller did not ask for
    def field[A](k: String, want: String)(pf: PartialFunction[JVal, A]): Option[A] =
      fields.get(k).map(pf.applyOrElse(_,
        (_: JVal) => throw new BadRequest(s"'$k' must be $want")))
    val sessionId = field("session_id", "a string") { case JStr(s) => s }
      .getOrElse("default")
    val query = field("query", "a string") { case JStr(s) => s }
      .getOrElse(throw new BadRequest("missing 'query'"))
    // a number outside Long's range would saturate (task_id) or wrap (ts)
    val taskId = field("task_id", "an integer") {
      case JNum(d) if d == math.floor(d) && d >= Long.MinValue.toDouble &&
        d < Long.MaxValue.toDouble => d.toLong }
    val now = field("ts", "a number") {
      case JNum(d) if math.abs(d) < (Long.MaxValue / 1000).toDouble =>
        new Timestamp(d.toLong * 1000L) }
      .getOrElse(new Timestamp(System.currentTimeMillis()))
    val (responseText, iterations) = processTurn(sessionId, query, taskId, now)
    s"""{"session_id": "${AgentText.escapeJson(sessionId)}", """ +
      s""""response": "${AgentText.escapeJson(responseText)}", """ +
      s""""iterations": $iterations}"""
  }
}

object ChatService {
  /** The number of commit-log partitions a service pushes to. */
  val PushPartitions = 4

  /** The mutable-by-replacement session state a chat turn advances. */
  final case class State(
      memory: MemoryStore, tasks: TaskStore, messages: Dataset[Message])
}
