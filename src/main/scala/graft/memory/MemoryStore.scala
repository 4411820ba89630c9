package graft.memory

import java.sql.Timestamp

import graft.agent.ReactLoop
import graft.functions.AgentText
import graft.functions.TextFunctions
import graft.model._
import graft.provider.Provider
import graft.serve.{ChatService, Snapshot}
import graft.task.TaskStore
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
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
  * JSON; folded into the stores by [[graft.serve.Snapshot.commit]]. */
final case class MemoryAnalysis(
    summary: Option[String],
    topics: Seq[(String, String)], // insertion order matters for eviction
    keyFacts: Seq[String])

/** Memory state as four Datasets (D2–D5) + the operators over them
  * (SURVEY.md §2: P1/P3, A5, A7, A8, A9, F3).
  *
  * Scale stance: serving reads run on driver rows. A chat turn reads
  * one session's rows of the stores as held by `graft.serve.Snapshot`,
  * the reference's in-process lists (memory.py:117-144), with the pure
  * rules on the companion: the record tail ([[MemoryStore.tail]]), the
  * keyword top-k ([[MemoryStore.byRelevance]]) and the analysis read
  * ([[MemoryStore.analyze]]); [[analyze]] and [[update]] collect the
  * rows and apply the same rules. Batch work over `records`,
  * the unbounded append log, stays partition-parallel (the corpus
  * queries over every session, `graft.streaming`). `summaries`/`topics`/`kv`
  * are *bounded* state (≤3 / ≤maxTopics / grows slowly) — the per-batch
  * merge runs on collected state exactly because the reference
  * semantics are a sequential fold (each inserted topic can evict a
  * victim chosen by the state including the previous insert). The
  * merge rules are pure functions on the companion
  * ([[MemoryStore.retainSummaries]], [[MemoryStore.mergeTopics]],
  * [[MemoryStore.factRows]]), shared by streaming (keyed per session
  * via flatMapGroupsWithState, graft.streaming) and serving
  * (`graft.serve.Snapshot.commit` folds each write into driver-held
  * rows, the stores' one write path).
  */
final case class MemoryStore(
    records: Dataset[MemoryRecord],
    summaries: Dataset[Summary],
    topics: Dataset[Topic],
    kv: Dataset[KvEntry],
    config: MemoryConfig = MemoryConfig()) {

  private def spark: SparkSession = records.sparkSession

  /** A5 — latest summary per session = value at max ts (memory.py:119-121). */
  def latestSummary: DataFrame = {
    val sp = spark; import sp.implicits._
    summaries.groupBy($"sessionId")
      .agg(max_by($"text", $"ts").as("text"), max($"ts").as("ts"))
  }

  /** The full update step (ST2; memory.py:263-357): [[analyze]], then
    * [[graft.serve.Snapshot.commit]] of the analysis alone over the
    * collected store. Deterministic given a stub provider. */
  def update(sessionId: String, provider: Provider, now: Timestamp): MemoryStore = {
    val sp = spark; import sp.implicits._
    analyze(sessionId, provider).fold(this) { a =>
      Snapshot.of(ChatService.State(this, TaskStore.empty(sp), sp.emptyDataset[Message]), Nil)
        .commit(sessionId, now, ReactLoop.Writes(Nil, Nil, Nil, None, Nil, Some(a))).state.memory
    }
  }

  /** The read half of the update step: [[MemoryStore.analyze]] over
    * the session's collected records and topics. */
  def analyze(sessionId: String, provider: Provider): Option[MemoryAnalysis] = {
    val own = col("sessionId") === sessionId
    MemoryStore.analyze(records.filter(own).collect().toSeq, topics.filter(own).collect().toSeq,
      sessionId, config, provider)
  }
}

object MemoryStore {

  /** P1 — the session's latest `n` records (memory.py:123-126): the
    * newest by `ts`, and among equal `ts` the later appended, listed
    * oldest first, equal `ts` in append order. `records` are in append
    * order. */
  def tail(records: Seq[MemoryRecord], sessionId: String, n: Int): Seq[MemoryRecord] =
    records.filter(_.sessionId == sessionId).sortBy(_.ts).takeRight(n)

  /** F3 — the top `k` of (name, value) pairs by keyword relevance to
    * `query` (memory.py:128-142), each scored on its cleaned
    * "'name': value" presentation string; returns those strings, the
    * highest score first, ties by name. */
  def byRelevance(pairs: Seq[(String, String)], query: String, k: Int): Seq[String] = {
    val keywords = TextFunctions.getKeywords(TextFunctions.cleanString(query))
    pairs.map { case (name, value) =>
      val cleaned = TextFunctions.cleanString(s"'$name': $value")
      (-TextFunctions.keywordCount(cleaned, keywords), name, cleaned)
    }.sortBy(p => (p._1, p._2)).take(k).map(_._3)
  }

  /** The read half of the update step on rows: batch the session's
    * latest `updateBatchSize` records ([[tail]]), ask the provider for
    * an analysis of them and the session's topic names, in store order,
    * and parse its fenced JSON. None when the session has no records
    * (nothing to analyze). */
  def analyze(records: Seq[MemoryRecord], topics: Seq[Topic], sessionId: String,
      config: MemoryConfig, provider: Provider): Option[MemoryAnalysis] = {
    val batch = tail(records, sessionId, config.updateBatchSize)
    if (batch.isEmpty) None
    else {
      val prompt = updatePrompt(batch.map(r => s"[${r.ts}] ${r.content}").mkString("\n"),
        topics.filter(_.sessionId == sessionId).map(_.name))
      Some(parseAnalysis(provider.generateResponse(prompt)))
    }
  }

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
    * shared by [[graft.serve.Snapshot.commit]] and the streaming state
    * operator. */
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

  /** Summary retention as a pure fold (memory.py:305-312): the
    * reference keys summaries by timestamp, so `added` replaces a
    * summary at its `ts`; then keep the newest `cap`, newest first. */
  def retainSummaries(current: Seq[Summary], added: Summary, cap: Int): Seq[Summary] =
    (current.filterNot(_.ts == added.ts) :+ added).sortBy(-_.ts.getTime).take(cap)

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
