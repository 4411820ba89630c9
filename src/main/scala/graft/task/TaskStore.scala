package graft.task

import java.sql.Timestamp

import graft.functions.AgentText
import graft.model._
import graft.provider.Provider
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Task-state knobs (reference configs.json:15, task.py:620). */
final case class TaskConfig(maxLogs: Int = 50, summaryCap: Int = 200)

/** Task state as three Datasets (D6–D8) + the reference's operators
  * (SURVEY.md §2: A2/A3/A6/A9, T3/T4, F6/F9/F10, J3).
  *
  * Scale stance: `logs`/`files` are the growing relations — the task
  * view is one partition-parallel aggregation over them and the (small)
  * task dimension together. A log is appended, and the task's logs
  * trimmed, by [[TaskStore.appendLogRows]] on driver rows, the one
  * write rule ([[graft.serve.Snapshot.commit]] applies it).
  */
final case class TaskStore(
    tasks: Dataset[TaskRow],
    logs: Dataset[TaskLog],
    files: Dataset[ExtractedFileRow],
    config: TaskConfig = TaskConfig()) {

  private def spark: SparkSession = tasks.sparkSession

  /** Upsert scalar task fields; title derived from target when absent
    * (task.py:350-370, F9). */
  def upsertTask(row: TaskRow): TaskStore = {
    val sp = spark; import sp.implicits._
    val withTitle =
      if (row.title.nonEmpty) row
      else row.copy(title = AgentText.titleFromTarget(row.target))
    copy(tasks = tasks.filter($"taskId" =!= row.taskId)
      .as[TaskRow].union(Seq(withTitle).toDS()))
  }

  /** A2 — per-type file counts, presented like `get_file_summary`
    * (task.py:87-100): "Extracted N files: 2 code file(s), ...". */
  def fileSummary(taskId: Long): String = {
    val sp = spark; import sp.implicits._
    val counts = files.filter($"taskId" === taskId)
      .groupBy($"fileType").agg(count(lit(1)).as("n"))
      .orderBy($"fileType")
      .collect().map(r => (r.getString(0), r.getLong(1)))
    if (counts.isEmpty) "No files extracted"
    else {
      val total = counts.map(_._2).sum
      val parts = counts.map { case (t, n) => s"$n $t file(s)" }
      s"Extracted $total files: ${parts.mkString(", ")}"
    }
  }

  /** A3/A6 — the `/api/tasks` view (app.py:140-175): per-task log and
    * file counts plus last-updated (latest log ts, else created_at).
    * One aggregation over a tagged union of the three tables (kind 0 a
    * task row, 1 a log, 2 a file); a task id with no task row drops
    * out. */
  def tasksView: DataFrame = {
    val none = lit(null).cast("string")
    val noTs = lit(null).cast("timestamp")
    def tagged(kind: Int, rows: Dataset[_], fields: Column*) =
      rows.select(col("taskId") +: lit(kind).as("kind") +: fields: _*)
    val task = (c: String) => first(col(c), ignoreNulls = true).as(c)
    tagged(0, tasks, col("taskType"), col("title"), col("target"), col("progress"),
        col("createdAt"), noTs.as("ts"))
      .union(tagged(1, logs, none, none, none, none, noTs, col("ts")))
      .union(tagged(2, files, none, none, none, none, noTs, noTs))
      .groupBy(col("taskId"))
      .agg(count(when(col("kind") === 0, 1)).as("task_rows"),
        task("taskType"), task("title"), task("target"), task("progress"),
        count(when(col("kind") === 1, 1)).as("logs_count"),
        count(when(col("kind") === 2, 1)).as("files_count"),
        coalesce(max(col("ts")), first(col("createdAt"), ignoreNulls = true))
          .as("last_updated"))
      .filter(col("task_rows") > 0)
      .drop("task_rows")
      // one row per task: sorted in one partition, not range-shuffled
      .coalesce(1).sortWithinPartitions(col("taskId"))
  }
}

object TaskStore {

  def empty(spark: SparkSession, config: TaskConfig = TaskConfig()): TaskStore = {
    val sp = spark; import sp.implicits._
    TaskStore(spark.emptyDataset[TaskRow], spark.emptyDataset[TaskLog],
      spark.emptyDataset[ExtractedFileRow], config)
  }

  /** Append `log` with its response summary capped with ellipsis
    * (task.py:505-509, T3), then keep that task's newest `maxLogs`
    * (task.py:617-623): the newest by `ts`, and among equal `ts` the
    * later appended, as the reference keeps the last appended. The
    * task's logs are listed oldest first, equal `ts` in append order;
    * `current` is in append order. */
  def appendLogRows(current: Seq[TaskLog], log: TaskLog, config: TaskConfig): Seq[TaskLog] = {
    val added = log.copy(responseSummary = AgentText.summarize(log.responseSummary, config.summaryCap))
    val (same, others) = current.partition(_.taskId == added.taskId)
    others ++ (same :+ added).sortBy(_.ts).takeRight(config.maxLogs)
  }

  /** One LLM-identified extractable span (task.py:221-229). */
  final case class IdentifiedSpan(
      startMarker: String, endMarker: String, contentType: String,
      title: String, description: String)

  /** Parse the extractor LLM's `{"files": [...]}` response
    * (task.py:199-206). */
  def parseIdentified(response: String): Seq[IdentifiedSpan] = {
    import AgentText._
    val (_, data) = splitContentAndJson(response)
    data.toSeq.flatMap { obj =>
      obj.fields.get("files") match {
        case Some(JArr(items)) => items.collect { case JObj(f) =>
          def str(k: String, dflt: String) = f.get(k) match {
            case Some(JStr(s)) => s; case _ => dflt
          }
          IdentifiedSpan(str("start_marker", ""), str("end_marker", ""),
            str("content_type", "text"), str("title", "untitled"),
            str("description", ""))
        }
        case _ => Seq.empty
      }
    }
  }

  /** The file-extraction pipeline (task.py:211-261): LLM identifies
    * marker spans, then for each span with >100 chars of content the
    * span (markers inclusive; 20-line fallback, F6/Q11) becomes an
    * [[ExtractedFileRow]] with a sanitized filename (F10). Runs on the
    * driver per response text — extraction over a *corpus* of texts
    * wraps this in mapPartitions with one provider per partition. */
  def extractFiles(
      taskId: Long, logTs: Timestamp, text: String, provider: Provider)
      : Seq[ExtractedFileRow] = {
    val prompt = analyzePrompt(text)
    val spans = parseIdentified(provider.generateResponse(prompt))
    spans.flatMap { span =>
      val content = AgentText.extractBetweenMarkers(text, span.startMarker, span.endMarker)
      if (content.trim.length > 100) {
        val trimmed = content.trim
        val ext = AgentText.fileExtension(span.contentType)
        Some(ExtractedFileRow(
          taskId, logTs,
          AgentText.safeFilename(span.title, span.contentType),
          span.contentType, trimmed, trimmed.length.toLong,
          if (ext == "md") "markdown" else "text",
          Map(
            "extraction_method" -> "llm_analysis",
            "description" -> span.description,
            "original_title" -> span.title,
            "content_type" -> span.contentType)))
      } else None
    }
  }

  /** Extractor analysis prompt (task.py:163-198 shape, condensed). */
  def analyzePrompt(text: String): String =
    s"""Analyze the following text and identify extractable file content.
Respond in JSON enclosed in triple backticks with:
- "files": array of {"start_marker", "end_marker", "content_type", "title", "description"}

Text:
$text"""
}
