package graft.memory

import java.sql.Timestamp

import graft.functions.AgentText
import graft.functions.TextFunctions
import graft.model._
import graft.provider.Provider
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Memory-state knobs (reference configs.json:6-13). */
final case class MemoryConfig(
    latestRecordNum: Int = 10,
    updateBatchSize: Int = 5,
    savedSummaryNum: Int = 3,
    maxTopics: Int = 20,
    relevantTopicsNum: Int = 3,
    relevantKvNum: Int = 3)

/** The outcome of one memory-update step (reference memory.py:263-357):
  * analysis of the latest record batch proposing a summary, topic
  * upserts, and key facts. Produced by parsing the provider's fenced
  * JSON; consumed by [[MemoryStore.applyUpdate]]. */
final case class MemoryAnalysis(
    summary: Option[String],
    topics: Seq[(String, String)], // insertion order matters for eviction
    keyFacts: Seq[String])

/** Memory state as four Datasets (D2–D5) + the operators over them
  * (SURVEY.md §2: P1/P3, A5, A7, A8, A9, F3).
  *
  * Scale stance: `records` is the unbounded append log — every operator
  * over it is partition-parallel (tail-N is TakeOrderedAndProject, the
  * rag scan is a projection). `summaries`/`topics`/`kv` are *bounded*
  * state (≤3 / ≤maxTopics / grows slowly) — the per-batch merge runs on
  * collected state exactly because the reference semantics are a
  * sequential fold (each inserted topic can evict a victim chosen by
  * the state including the previous insert). The rules are pure
  * functions on the companion ([[MemoryStore.retainSummaries]],
  * [[MemoryStore.mergeTopics]], [[MemoryStore.factRows]]), shared by
  * streaming (keyed per session via flatMapGroupsWithState,
  * graft.streaming) and serving (`graft.serve.ChatService` folds each
  * turn into driver-held rows); [[applyUpdate]] runs the topic and
  * fact rules itself and retains summaries with a ranking window.
  */
final case class MemoryStore(
    records: Dataset[MemoryRecord],
    summaries: Dataset[Summary],
    topics: Dataset[Topic],
    kv: Dataset[KvEntry],
    config: MemoryConfig = MemoryConfig()) {

  private def spark: SparkSession = records.sparkSession

  /** P1 — a session's latest `n` records (memory.py:123-126), in no
    * particular order (callers order them by `ts`); a top-k
    * ([[MemoryStore.topK]]), with no shuffle of the whole log. */
  def recentRecords(sessionId: String, n: Int): Dataset[MemoryRecord] =
    MemoryStore.topK(records.filter(col("sessionId") === sessionId), n, desc("ts"))

  /** A5 — latest summary per session = value at max ts (memory.py:119-121). */
  def latestSummary: DataFrame = {
    val sp = spark; import sp.implicits._
    summaries.groupBy($"sessionId")
      .agg(max_by($"text", $"ts").as("text"), max($"ts").as("ts"))
  }

  /** F3 — the session's top-k topics by keyword relevance to the query
    * (memory.py:128-135), scoring the reference's "'name': description"
    * presentation string. Columns `name`, `cleaned`, `score`, in no
    * particular order (callers order by score desc, then name). */
  def relevantTopics(sessionId: String, query: String): DataFrame =
    relevant(topics, "name", "description", sessionId, query, config.relevantTopicsNum)

  /** F3 — the session's top-k KV pairs by keyword relevance
    * (memory.py:137-142): columns `key`, `cleaned`, `score`, likewise
    * unordered. */
  def relevantKv(sessionId: String, query: String): DataFrame =
    relevant(kv, "key", "value", sessionId, query, config.relevantKvNum)

  private def relevant(rows: Dataset[_], key: String, value: String,
      sessionId: String, query: String, k: Int): DataFrame = {
    val keywords = TextFunctions.getKeywords(TextFunctions.cleanString(query))
    val cleaned = TextFunctions.cleanText(concat(lit("'"), col(key), lit("': "), col(value)))
    val scored = rows.filter(col("sessionId") === sessionId)
      .select(col(key), cleaned.as("cleaned"))
      .withColumn("score", TextFunctions.keywordScore(col("cleaned"), keywords).cast("long"))
    MemoryStore.topK(scored, k, desc("score"), asc(key))
  }

  /** P4 — point lookup (memory.py:257-261). */
  def getData(sessionId: String, key: String): Option[String] = {
    val sp = spark; import sp.implicits._
    kv.filter($"sessionId" === sessionId && $"key" === key)
      .collect().headOption.map(_.value)
  }

  /** Append one record (memory.py:249-251). */
  def addRecord(rec: MemoryRecord): MemoryStore =
    copy(records = records.union(spark.createDataset(Seq(rec))(records.encoder)))

  /** Put one KV fact (memory.py:253-255): last-writer-wins upsert. */
  def putData(entry: KvEntry): MemoryStore =
    copy(kv = kv.filter(!(col("sessionId") === entry.sessionId && col("key") === entry.key))
      .union(spark.createDataset(Seq(entry))(kv.encoder)))

  /** The full update step (ST2; memory.py:263-357): [[analyze]] then
    * [[applyUpdate]]. Deterministic given a stub provider. */
  def update(sessionId: String, provider: Provider, now: Timestamp): MemoryStore =
    analyze(sessionId, provider).fold(this)(applyUpdate(sessionId, _, now))

  /** The read half of the update step: batch the session's latest
    * records, ask the provider for an analysis and parse its fenced
    * JSON. None when the session has no records (nothing to analyze). */
  def analyze(sessionId: String, provider: Provider): Option[MemoryAnalysis] = {
    // one read: the tail batch (tag 0) and the session's topic names
    // (tag 1, in store order) as one union
    val rows = recentRecords(sessionId, config.updateBatchSize)
      .select(lit(0).as("tag"), col("ts"), col("content").as("text"))
      .union(topics.filter(col("sessionId") === sessionId)
        .select(lit(1), lit(null).cast("timestamp"), col("name")))
      .collect().toSeq
    val (batch, names) = rows.partition(_.getInt(0) == 0)
    if (batch.isEmpty) return None
    val recordsText = batch.map(r => r.getTimestamp(1) -> r.getString(2)).sortBy(_._1)
      .map { case (ts, content) => s"[$ts] $content" }.mkString("\n")
    val prompt = MemoryStore.updatePrompt(recordsText, names.map(_.getString(2)))
    Some(MemoryStore.parseAnalysis(provider.generateResponse(prompt)))
  }

  /** Merge an analysis into state with the reference's exact ordering:
    * summary insert + retention (keep newest savedSummaryNum), then
    * topics in insertion order (existing → description/ts/freq+1 update;
    * new at capacity → evict min (frequency, lastUpdated) first), then
    * key facts appended as fact_<ts>_<i> KV rows. */
  def applyUpdate(sessionId: String, analysis: MemoryAnalysis, now: Timestamp): MemoryStore = {
    val sp = spark; import sp.implicits._
    // --- summary retention (A9)
    val withSummary = analysis.summary match {
      case Some(s) =>
        val appended = summaries.union(Seq(Summary(sessionId, now, s)).toDS())
        val w = Window.partitionBy($"sessionId").orderBy(desc("ts"))
        appended.withColumn("rn", row_number().over(w))
          .filter($"rn" <= config.savedSummaryNum).drop("rn").as[Summary]
      case None => summaries
    }
    // --- topic upsert + capacity eviction (A7/A8): sequential fold on
    // the (bounded, ≤maxTopics) collected per-session state. The fold
    // itself is the pure MemoryStore.mergeTopics — shared verbatim with
    // the streaming formulation (graft.streaming.MemoryUpdates).
    val others = topics.filter($"sessionId" =!= sessionId)
    val merged = MemoryStore.mergeTopics(
      topics.filter($"sessionId" === sessionId).collect().toSeq,
      sessionId, analysis.topics, now, config.maxTopics)
    val newTopics = others.union(merged.toDS())
    // --- key facts → KV
    val factRows = MemoryStore.factRows(sessionId, analysis.keyFacts, now)
    val newKv = if (factRows.isEmpty) kv else kv.union(factRows.toDS())
    copy(summaries = withSummary, topics = newTopics, kv = newKv)
  }
}

object MemoryStore {

  /** The first `n` rows of `rows` in `order`, returned in no particular
    * order: a top-k (TakeOrderedAndProject — a top-k per partition, then
    * one merge, in one job) when `rows` may hold more than `n` rows, and
    * `rows` itself when they cannot. Spark drops a limit its optimized
    * input cannot exceed (a filter over driver-held rows folds into the
    * matching rows) but keeps the sort under it, and a global sort is a
    * range shuffle (two more jobs under AQE), so that sort is left out
    * here as well. */
  private def topK[T](rows: Dataset[T], n: Int, order: Column*): Dataset[T] =
    if (rows.queryExecution.optimizedPlan.maxRows.exists(_ <= n)) rows
    else rows.orderBy(order: _*).limit(n)

  def empty(spark: SparkSession, config: MemoryConfig = MemoryConfig()): MemoryStore = {
    val sp = spark; import sp.implicits._
    MemoryStore(
      spark.emptyDataset[MemoryRecord], spark.emptyDataset[Summary],
      spark.emptyDataset[Topic], spark.emptyDataset[KvEntry], config)
  }

  /** The reference's sequential topic fold (memory.py:315-344): for
    * each proposed (name, description) in order — existing topic gets
    * description/lastUpdated/frequency+1; a new topic at capacity first
    * evicts the min (frequency, lastUpdated) victim. Pure function,
    * shared by the batch store and the streaming state operator. */
  def mergeTopics(
      current: Seq[Topic], sessionId: String,
      updates: Seq[(String, String)], now: Timestamp, maxTopics: Int): Seq[Topic] = {
    val state = current.map(t => t.name -> t)
      .to(scala.collection.mutable.LinkedHashMap)
    updates.foreach { case (name, description) =>
      state.get(name) match {
        case Some(t) =>
          state(name) = t.copy(description = description, lastUpdated = now,
            frequency = t.frequency + 1)
        case None =>
          if (state.size >= maxTopics) {
            val victim = state.values.minBy(t => (t.frequency, t.lastUpdated.getTime, t.name))
            state.remove(victim.name)
          }
          state(name) = Topic(sessionId, name, description, now, now, 1L)
      }
    }
    state.values.toSeq
  }

  /** Key facts as KV rows keyed `fact_<ts millis>_<i>`, in analysis order. */
  def factRows(sessionId: String, keyFacts: Seq[String], now: Timestamp): Seq[KvEntry] =
    keyFacts.zipWithIndex.map { case (fact, i) =>
      KvEntry(sessionId, s"fact_${now.getTime}_$i", fact)
    }

  /** Summary retention as a pure fold (memory.py:305-312): append then
    * keep the newest `cap`. */
  def retainSummaries(current: Seq[Summary], added: Summary, cap: Int): Seq[Summary] =
    (current :+ added).sortBy(-_.ts.getTime).take(cap)

  /** The reference's update prompt shape (memory.py:279-295). */
  def updatePrompt(recordsText: String, currentTopics: Seq[String]): String = {
    val topicsStr = if (currentTopics.isEmpty) "None" else currentTopics.mkString("[", ", ", "]")
    s"""Analyze the following memory records and extract:
    1. Key topics/themes present in the records
    2. A brief summary of the main points
    3. Any important data or facts that should be remembered

    Recent Memory Records:
    $recordsText

    Current Topics: $topicsStr

    Please respond in JSON format with:
    - "summary": Brief summary of the records
    - "topics": Object with topic names as keys and descriptions as values
    - "key_facts": Array of important facts or data points

    Format your response as JSON only, enclosed in triple backticks."""
  }

  /** Parse the provider's fenced-JSON analysis (memory.py:301-351). */
  def parseAnalysis(response: String): MemoryAnalysis = {
    import AgentText._
    val (_, data) = splitContentAndJson(response)
    data match {
      case Some(JObj(fields)) =>
        val summary = fields.get("summary").collect { case JStr(s) => s }
        val topics = fields.get("topics") match {
          case Some(JObj(t)) =>
            t.toSeq.map { case (k, v) =>
              k -> (v match { case JStr(s) => s; case other => other.toString })
            }
          case _ => Seq.empty
        }
        val keyFacts = fields.get("key_facts") match {
          case Some(JArr(items)) => items.map {
            case JStr(s) => s
            case JNum(d) => if (d == math.floor(d) && !d.isInfinite) d.toLong.toString else d.toString
            case JBool(b) => if (b) "True" else "False"
            case other => other.toString
          }
          case _ => Seq.empty
        }
        MemoryAnalysis(summary, topics, keyFacts)
      case None => MemoryAnalysis(None, Seq.empty, Seq.empty)
    }
  }
}
