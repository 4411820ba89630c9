package graft.serve

import java.sql.Timestamp

import graft.agent.ReactLoop
import graft.functions.AgentText
import graft.functions.AgentText.{JNum, JObj, JStr, JVal}
import graft.io.CommitLog
import graft.memory.{MemoryConfig, MemoryStore}
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
  * State: one immutable snapshot, the private `ChatService.Rows`,
  * held in the service's one mutable field. It carries the committed
  * stores as driver-held rows, one `Seq` per table (records,
  * summaries, topics, kv, tasks, logs, files, messages), the analog of
  * the reference's in-process lists (memory.py:263-357), together with
  * the [[MemoryConfig]] and [[TaskConfig]] of the state it was
  * collected from, and the [[State]] built from them when the snapshot
  * is made: one local relation per table, so a turn's plans never
  * carry an earlier turn's unions and their size does not grow with
  * the session's history. A turn commits by folding its one delta,
  * [[ReactLoop.Writes]], into the rows with the same pure rules the
  * streaming path uses ([[MemoryStore.retainSummaries]],
  * [[MemoryStore.mergeTopics]], [[MemoryStore.factRows]],
  * [[TaskStore.appendLogRows]]) under the snapshot's configs. Only the
  * tables whose rows the turn changed are rebuilt, each with the
  * encoder its table was collected with (no per-turn encoder
  * derivation); the others keep their published Dataset. `state0` is
  * collected once, at construction, and [[updateState]] collects the
  * edited state, configs included.
  *
  * [[handle]] answers a malformed POST body (not a JSON object, no
  * `query`, or a field of the wrong type) with [[BadRequest]], which
  * the server maps to a 400.
  *
  * Turns are serialized (`synchronized`): chat state transitions are
  * single-writer per service, the same per-process session contract as
  * the reference; reads (the GET views) observe the latest committed
  * snapshot via [[state]]. A turn pushes before it publishes: the new
  * snapshot becomes [[state]] only after the commit-log append
  * succeeds, so a turn whose push failed is not committed and a client
  * retry does not apply it twice. The push goes to the session's
  * partition of `pushLogDir`, one of [[ChatService.PushPartitions]].
  */
final class ChatService(
    provider: Provider,
    state0: ChatService.State,
    tools: Dataset[Tool],
    pushLogDir: String) {

  @volatile private var snapshot = ChatService.Rows.of(state0)

  private val loop = new ReactLoop(provider)

  /** Latest committed store state (for wiring GET views). */
  def state: ChatService.State = snapshot.state

  /** External state edit (e.g. a REPL's `/task new`), serialized with
    * turn processing; collects the edited state into a new snapshot. */
  def updateState(f: ChatService.State => ChatService.State): Unit =
    synchronized { snapshot = ChatService.Rows.of(f(snapshot.state)) }

  /** One chat turn: run the ReAct loop against the live stores, push
    * the assistant response onto the commit log, then commit the new
    * snapshot. Returns (responseText, iterations). */
  def processTurn(sessionId: String, query: String, taskId: Option[Long],
      now: Timestamp): (String, Int) = synchronized {
    val snap = snapshot
    val st = snap.state
    val out = loop.processQuery(sessionId, query, st.memory, st.tasks,
      tools, st.messages, taskId, now)
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
  /** The number of commit-log partitions a service pushes to. */
  val PushPartitions = 4

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

  /** The committed snapshot: driver-held rows, one [[Table]] per
    * table, the configs of the state they were collected from, and the
    * [[State]] published for them, built when the snapshot is made. */
  private final case class Rows(
      records: Table[MemoryRecord], summaries: Table[Summary], topics: Table[Topic],
      kv: Table[KvEntry], tasks: Table[TaskRow], logs: Table[TaskLog],
      files: Table[ExtractedFileRow], messages: Table[Message],
      memory: MemoryConfig, task: TaskConfig) {

    /** The rows as one local relation per table. */
    val state: State = State(
      MemoryStore(records.ds, summaries.ds, topics.ds, kv.ds, memory),
      TaskStore(tasks.ds, logs.ds, files.ds, task),
      messages.ds)

    /** Fold one turn's writes in, in the order the batch store
      * operators would apply them: records and last-writer-wins KV puts,
      * the task log and files, the messages, then the memory analysis
      * ([[MemoryStore.applyUpdate]] on rows: the session's summaries and
      * topics, then its key facts). A table the turn does not write
      * keeps its rows: `tasks` always, `files` when nothing was
      * extracted. */
    def commit(sessionId: String, now: Timestamp, w: ReactLoop.Writes): Rows = {
      // `f` applied to the session's own rows of `t`, the others kept
      def own[T](t: Table[T])(session: T => String, f: Seq[T] => Seq[T]): Table[T] =
        t.map { rows =>
          val (mine, others) = rows.partition(session(_) == sessionId)
          others ++ f(mine)
        }
      val analysis = w.analysis
      copy(
        records = records ++ w.records,
        summaries = analysis.flatMap(_.summary).fold(summaries)(s => own(summaries)(_.sessionId,
          MemoryStore.retainSummaries(_, Summary(sessionId, now, s), memory.savedSummaryNum))),
        topics = analysis.fold(topics)(a => own(topics)(_.sessionId,
          MemoryStore.mergeTopics(_, sessionId, a.topics, now, memory.maxTopics))),
        kv = kv.map(w.puts.foldLeft(_)((acc, e) =>
          acc.filterNot(r => r.sessionId == e.sessionId && r.key == e.key) :+ e)) ++
          analysis.fold(Seq.empty[KvEntry])(a => MemoryStore.factRows(sessionId, a.keyFacts, now)),
        logs = w.log.fold(logs)(l => logs.map(TaskStore.appendLogRows(_, l, task))),
        files = files ++ w.files,
        messages = messages ++ w.messages)
    }
  }

  private object Rows {
    /** Collect every table of `st` to the driver; keep its configs. */
    def of(st: State): Rows = Rows(
      Table.of(st.memory.records), Table.of(st.memory.summaries),
      Table.of(st.memory.topics), Table.of(st.memory.kv),
      Table.of(st.tasks.tasks), Table.of(st.tasks.logs),
      Table.of(st.tasks.files), Table.of(st.messages),
      st.memory.config, st.tasks.config)
  }
}
