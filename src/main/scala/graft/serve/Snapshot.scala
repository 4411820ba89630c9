package graft.serve

import java.sql.Timestamp
import java.time.ZoneId

import graft.agent.ReactLoop
import graft.memory.{MemoryConfig, MemoryStore}
import graft.model._
import graft.task.{TaskConfig, TaskStore}
import org.apache.spark.sql.{Dataset, Encoder, SparkSession}
import org.apache.spark.sql.catalyst.util.DateTimeUtils

/** A chat service's committed state as driver-held rows: the read
  * model a turn is served from (the analog of the reference's
  * in-process lists, memory.py:263-357).
  *
  * It holds one [[Snapshot.Table]] per table (records, summaries,
  * topics, kv, tasks, logs, files, messages), the [[MemoryConfig]] and
  * [[TaskConfig]] of the state it was collected from, and the tool
  * registry resolved once, last server wins ([[graft.registry.Registry.unionLastWins]]).
  * A turn reads it with the pure rules of [[graft.context.ContextAssembler.prompt]]
  * and [[MemoryStore.analyze]], and [[commit]] folds a turn's writes
  * into a new snapshot, so serving a turn runs no Spark job and
  * analyzes no plan. The Datasets published for readers ([[state]])
  * are built lazily, by the first reader.
  */
final case class Snapshot(
    records: Snapshot.Table[MemoryRecord], summaries: Snapshot.Table[Summary],
    topics: Snapshot.Table[Topic], kv: Snapshot.Table[KvEntry],
    tasks: Snapshot.Table[TaskRow], logs: Snapshot.Table[TaskLog],
    files: Snapshot.Table[ExtractedFileRow], messages: Snapshot.Table[Message],
    memory: MemoryConfig, task: TaskConfig, tools: Seq[Tool]) {

  /** The rows as one local relation per table, built on first use; a
    * table the last commit left alone keeps its Dataset. */
  lazy val state: ChatService.State = ChatService.State(
    MemoryStore(records.ds, summaries.ds, topics.ds, kv.ds, memory),
    TaskStore(tasks.ds, logs.ds, files.ds, task),
    messages.ds)

  /** The session time zone, the zone `CAST(ts AS STRING)` renders in. */
  def zone: ZoneId =
    DateTimeUtils.getZoneId(records.spark.conf.get("spark.sql.session.timeZone"))

  /** Fold one turn's writes in with the stores' write rules, the only
    * implementation of each: records appended, KV puts last writer wins,
    * the task log ([[TaskStore.appendLogRows]]), files and messages
    * appended, then the memory analysis: the session's summaries
    * ([[MemoryStore.retainSummaries]]) and topics
    * ([[MemoryStore.mergeTopics]]), then its key facts
    * ([[MemoryStore.factRows]]). A table the turn does not write keeps
    * its rows: `tasks` always, `files` when nothing was extracted. */
  def commit(sessionId: String, now: Timestamp, w: ReactLoop.Writes): Snapshot = {
    // `f` applied to the session's own rows of `t`, the others kept
    def own[T](t: Snapshot.Table[T])(session: T => String, f: Seq[T] => Seq[T]): Snapshot.Table[T] =
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

object Snapshot {

  /** One table: its driver-held rows, in the order they were appended,
    * and the local relation published for them, built on first use with
    * the encoder the table was collected with. */
  final class Table[T] private (val rows: Seq[T], enc: Encoder[T],
      private[serve] val spark: SparkSession) {
    private[serve] lazy val ds: Dataset[T] = spark.createDataset(rows)(enc)

    /** This table with `f` applied to its rows; itself when `f` returns
      * the same `Seq`. */
    private[serve] def map(f: Seq[T] => Seq[T]): Table[T] = {
      val next = f(rows)
      if (next eq rows) this else new Table(next, enc, spark)
    }

    private[serve] def ++(added: Seq[T]): Table[T] = if (added.isEmpty) this else map(_ ++ added)
  }

  private object Table {
    /** Collect `ds` to the driver. */
    def of[T](ds: Dataset[T]): Table[T] =
      new Table(ds.collect().toVector, ds.encoder, ds.sparkSession)
  }

  /** Collect every table of `st` to the driver; keep its configs and
    * the resolved tool rows `tools`. */
  def of(st: ChatService.State, tools: Seq[Tool]): Snapshot = Snapshot(
    Table.of(st.memory.records), Table.of(st.memory.summaries),
    Table.of(st.memory.topics), Table.of(st.memory.kv),
    Table.of(st.tasks.tasks), Table.of(st.tasks.logs),
    Table.of(st.tasks.files), Table.of(st.messages),
    st.memory.config, st.tasks.config, tools)
}
