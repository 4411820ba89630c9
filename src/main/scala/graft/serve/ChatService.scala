package graft.serve

import java.sql.Timestamp

import graft.agent.ReactLoop
import graft.functions.AgentText
import graft.functions.AgentText.{JNum, JObj, JStr, JVal}
import graft.io.CommitLog
import graft.memory.{MemoryAnalysis, MemoryConfig, MemoryStore}
import graft.model._
import graft.provider.Provider
import graft.task.{TaskConfig, TaskStore}
import org.apache.spark.sql.{Dataset, Encoder, SparkSession}

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
  * State: the committed stores are driver-held rows, one `Seq` per
  * table (records, summaries, topics, kv, tasks, logs, files,
  * messages), the analog of the reference's in-process lists
  * (memory.py:263-357). [[state]] publishes them as one local relation
  * per table, so a turn's plans never carry an earlier turn's unions
  * and their size does not grow with the session's history. A turn
  * commits by folding [[ReactLoop.Writes]] into the rows with the same
  * pure rules the streaming path uses ([[MemoryStore.retainSummaries]],
  * [[MemoryStore.mergeTopics]], [[MemoryStore.factRows]],
  * [[TaskStore.appendLogRows]]) under `state0`'s configs. Only the
  * tables whose rows the turn changed are rebuilt, each with the
  * encoder its table was collected with (no per-turn encoder
  * derivation); the others keep their published Dataset. `state0` is
  * collected once, at construction.
  *
  * [[handle]] answers a malformed POST body (not a JSON object, no
  * `query`, or a field of the wrong type) with [[BadRequest]], which
  * the server maps to a 400.
  *
  * Turns are serialized (`synchronized`): chat state transitions are
  * single-writer per service, the same per-process session contract as
  * the reference; reads (the GET views) observe the latest committed
  * state via [[state]]. A turn pushes before it publishes: the new
  * rows become [[state]] only after the commit-log append succeeds, so
  * a turn whose push failed is not committed and a client retry does
  * not apply it twice.
  */
final class ChatService(
    provider: Provider,
    state0: ChatService.State,
    tools: Dataset[Tool],
    pushLogDir: String,
    nPartitions: Int = 4,
    toolExecutor: (String, String) => String = (n, _) => s"[no executor for $n]") {

  private val memoryConfig = state0.memory.config
  private val taskConfig = state0.tasks.config

  private var rows = ChatService.Rows.of(state0)
  @volatile private var current: ChatService.State = publish(rows)

  /** Latest committed store state (for wiring GET views). */
  def state: ChatService.State = current

  /** External state edit (e.g. a REPL's `/task new`), serialized with
    * turn processing; collects the edited state into rows. */
  def updateState(f: ChatService.State => ChatService.State): Unit =
    synchronized {
      rows = ChatService.Rows.of(f(current))
      current = publish(rows)
    }

  private def publish(r: ChatService.Rows): ChatService.State =
    r.state(memoryConfig, taskConfig)

  private val loop = new ReactLoop(provider, toolExecutor = toolExecutor)

  /** One chat turn: run the ReAct loop against the live stores, push
    * the assistant response onto the commit log, then commit the new
    * state. Returns (responseText, iterations). */
  def processTurn(sessionId: String, query: String, taskId: Option[Long],
      now: Timestamp): (String, Int) = synchronized {
    val st = current
    val out = loop.processQuery(sessionId, query, st.memory, st.tasks,
      tools, st.messages, taskId, now)
    val next = rows.commit(sessionId, now, out.writes, out.newMessages,
      memoryConfig, taskConfig)
    val responseText = out.newMessages.reverse
      .collectFirst { case m if m.role == "assistant" => m.content }
      .getOrElse("")
    // push channel: append to the session's log partition; consumers
    // tail it via spark.readStream.format("commit-log")
    CommitLog.append(pushLogDir,
      math.floorMod(sessionId.hashCode, nPartitions),
      Seq((now.getTime * 1000L, sessionId, responseText)))
    rows = next
    current = publish(next)
    (responseText, out.iterations)
  }

  /** One POST body → one turn → response JSON. A body that is not a
    * JSON object, has no `query`, or has a field of the wrong type (a
    * non-string `session_id` or `query`, a non-integral `task_id`, a
    * non-numeric `ts`) throws [[BadRequest]] (the server answers 400);
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
    val taskId = field("task_id", "an integer") {
      case JNum(d) if d == math.floor(d) && !d.isInfinite => d.toLong }
    val now = field("ts", "a number") { case JNum(d) => new Timestamp(d.toLong * 1000L) }
      .getOrElse(new Timestamp(System.currentTimeMillis()))
    val (responseText, iterations) = processTurn(sessionId, query, taskId, now)
    s"""{"session_id": "${AgentText.escapeJson(sessionId)}", """ +
      s""""response": "${AgentText.escapeJson(responseText)}", """ +
      s""""iterations": $iterations}"""
  }
}

object ChatService {
  /** The mutable-by-replacement session state a chat turn advances. */
  final case class State(
      memory: MemoryStore, tasks: TaskStore, messages: Dataset[Message])

  /** One table: its driver-held rows and the local relation published
    * for them, built on first use with the encoder the table was
    * collected with. A commit that leaves a table's rows alone keeps
    * the table, and so its Dataset. */
  private final class Table[T](val rows: Seq[T], enc: Encoder[T], spark: SparkSession) {
    lazy val ds: Dataset[T] = spark.createDataset(rows)(enc)

    /** This table with `f` applied to its rows; itself when `f` returns
      * the same `Seq`. */
    def map(f: Seq[T] => Seq[T]): Table[T] = {
      val next = f(rows)
      if (next eq rows) this else new Table(next, enc, spark)
    }

    def ++(added: Seq[T]): Table[T] = if (added.isEmpty) this else map(_ ++ added)
  }

  private object Table {
    /** Collect `ds` to the driver. */
    def of[T](ds: Dataset[T]): Table[T] =
      new Table(ds.collect().toSeq, ds.encoder, ds.sparkSession)
  }

  /** The committed state as driver-held rows, one [[Table]] per table. */
  private final case class Rows(
      records: Table[MemoryRecord], summaries: Table[Summary], topics: Table[Topic],
      kv: Table[KvEntry], tasks: Table[TaskRow], logs: Table[TaskLog],
      files: Table[ExtractedFileRow], messages: Table[Message]) {

    /** Fold one turn's writes in, in the order the batch store
      * operators would apply them: records and last-writer-wins KV puts,
      * the task log and files, the messages, then the memory analysis.
      * A table the turn does not write keeps its rows: `tasks` always,
      * `files` when nothing was extracted. */
    def commit(sessionId: String, now: Timestamp, w: ReactLoop.Writes,
        newMessages: Seq[Message], memory: MemoryConfig, task: TaskConfig): Rows = {
      val turn = copy(
        records = records ++ w.records,
        kv = kv.map(w.puts.foldLeft(_)((acc, e) =>
          acc.filterNot(r => r.sessionId == e.sessionId && r.key == e.key) :+ e)),
        logs = w.log.fold(logs)(l => logs.map(TaskStore.appendLogRows(_, l, task))),
        files = files ++ w.files,
        messages = messages ++ newMessages)
      w.analysis.fold(turn)(turn.analysed(sessionId, _, now, memory))
    }

    /** [[MemoryStore.applyUpdate]] on rows. */
    private def analysed(sessionId: String, a: MemoryAnalysis, now: Timestamp,
        config: MemoryConfig): Rows = copy(
      summaries = a.summary.fold(summaries)(s => summaries.map { rows =>
        val (own, others) = rows.partition(_.sessionId == sessionId)
        others ++ MemoryStore.retainSummaries(own, Summary(sessionId, now, s),
          config.savedSummaryNum)
      }),
      topics = topics.map { rows =>
        val (own, others) = rows.partition(_.sessionId == sessionId)
        others ++ MemoryStore.mergeTopics(own, sessionId, a.topics, now, config.maxTopics)
      },
      kv = kv ++ MemoryStore.factRows(sessionId, a.keyFacts, now))

    /** The rows as one local relation per table. */
    def state(memory: MemoryConfig, task: TaskConfig): State = State(
      MemoryStore(records.ds, summaries.ds, topics.ds, kv.ds, memory),
      TaskStore(tasks.ds, logs.ds, files.ds, task),
      messages.ds)
  }

  private object Rows {
    /** Collect every table of `st` to the driver. */
    def of(st: State): Rows = Rows(
      Table.of(st.memory.records), Table.of(st.memory.summaries),
      Table.of(st.memory.topics), Table.of(st.memory.kv),
      Table.of(st.tasks.tasks), Table.of(st.tasks.logs),
      Table.of(st.tasks.files), Table.of(st.messages))
  }
}
