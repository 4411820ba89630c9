package graft.streaming

import java.sql.Timestamp

import graft.io.CommitLog
import graft.memory.MemoryStore
import graft.model.{MemoryRecord, Summary, Topic}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}

/** Structured Streaming formulations of the engine's stateful and
  * windowed operators (SURVEY.md §2.9 ST1–ST3 + the events windows).
  *
  * The transforms are source-agnostic: the same expressions run over
  * `spark.read` (batch, oracle-checked in graft.operators) and
  * `spark.readStream` (here). Watermarks bound state for late data;
  * at cluster scale state lives in the HDFS/RocksDB state store,
  * partitioned by the grouping key.
  */
object Streams {

  /** Tumbling 1-hour event counts (batch twin: ev_tumbling_window).
    * Append mode after watermark expiry — late events beyond 10 minutes
    * are dropped, everything else lands in its event-time bucket. */
  def tumblingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("value_sum"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n"), col("value_sum"))

  /** Session windows with a 30-minute gap (batch twin: ev_session_window). */
  def sessionCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("value_sum"))
      .select(col("user_id"), col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"), col("n_events"), col("value_sum"))

  /** DYNAMIC-gap session windows (batch twin: ev_session_dynamic): each
    * event holds its session open by a per-event gap expression — the
    * state store merges exactly as the batch operator does, so the
    * stream converges to the batch result (pinned in StreamingSpec). */
  def sessionCountsDynamic(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(col("user_id"), session_window(col("ts"),
        when(col("event_type") === "purchase", "60 minutes")
          .otherwise("15 minutes")))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("value_sum"))
      .select(col("user_id"), col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"), col("n_events"), col("value_sum"))

  /** One analysis event flowing into the memory state operator: the
    * parsed outcome of a provider call for one session batch (ST2). */
  final case class AnalysisEvent(
      sessionId: String, ts: Timestamp,
      summary: String,                     // null → none
      topicNames: Seq[String],             // parallel arrays: JSON object
      topicDescriptions: Seq[String],      //   order preserved
      keyFacts: Seq[String])

  /** Per-session memory state carried between micro-batches. */
  final case class MemoryState(
      summaries: Seq[Summary], topics: Seq[Topic], factCount: Long)

  /** Snapshot emitted after each state update (output mode Update). */
  final case class MemorySnapshot(
      sessionId: String, ts: Timestamp, latestSummary: String,
      topicNames: Seq[String], topicFrequencies: Seq[Long], nFacts: Long)

  /** ST2 — the reference's memory-update trigger as a keyed state
    * operator: every micro-batch folds that session's analysis events
    * (in event-time order) through the SAME pure merge functions as the
    * served commit, [[graft.serve.Snapshot.commit]]
    * ([[MemoryStore.mergeTopics]]/[[MemoryStore.retainSummaries]]), so
    * streaming state provably converges to the row fold.
    * State is bounded by construction (≤3 summaries, ≤maxTopics topics)
    * — no timeout needed for correctness. */
  def memoryUpdates(
      analyses: Dataset[AnalysisEvent],
      savedSummaryNum: Int = 3,
      maxTopics: Int = 20): Dataset[MemorySnapshot] = {
    import analyses.sparkSession.implicits._
    analyses
      .groupByKey(_.sessionId)
      .flatMapGroupsWithState[MemoryState, MemorySnapshot](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (sessionId: String, events: Iterator[AnalysisEvent], state: GroupState[MemoryState]) =>
          var st = state.getOption.getOrElse(MemoryState(Seq.empty, Seq.empty, 0L))
          val out = Seq.newBuilder[MemorySnapshot]
          events.toSeq.sortBy(_.ts.getTime).foreach { ev =>
            val summaries =
              if (ev.summary == null) st.summaries
              else MemoryStore.retainSummaries(
                st.summaries, Summary(sessionId, ev.ts, ev.summary), savedSummaryNum)
            val topics = MemoryStore.mergeTopics(
              st.topics, sessionId,
              ev.topicNames.zip(ev.topicDescriptions), ev.ts, maxTopics)
            st = MemoryState(summaries, topics, st.factCount + ev.keyFacts.size)
            out += MemorySnapshot(
              sessionId, ev.ts,
              summaries.sortBy(-_.ts.getTime).headOption.map(_.text).orNull,
              topics.map(_.name), topics.map(_.frequency), st.factCount)
          }
          state.update(st)
          out.result().iterator
      }
  }

  /** S10/ST3 — the push-sink shape: stream → `foreachBatch` → batch
    * writer. Each micro-batch overwrites its own `records/epoch=<id>`
    * directory of the parquet-backed store, so an epoch replayed after a
    * crash replaces its own rows instead of landing twice, and
    * `spark.read.parquet(s"$dir/records")` reads every epoch. The same
    * hook is where a websocket push, JDBC upsert, or compaction pass
    * goes. Returns the started query. */
  def recordsToStore(records: Dataset[MemoryRecord], dir: String,
      checkpoint: String): StreamingQuery =
    records.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode(OutputMode.Append)
      .foreachBatch { (batch: Dataset[MemoryRecord], epochId: Long) =>
        batch.write.mode("overwrite").parquet(s"$dir/records/epoch=$epochId")
      }
      .start()

  /** ST3 — task-log style bounded append: keep the newest `cap` records
    * per key as state, emitting the retained set's size each batch. */
  final case class LogState(records: Seq[MemoryRecord])
  final case class LogCount(sessionId: String, kept: Int)

  def boundedLogAppend(
      records: Dataset[MemoryRecord], cap: Int = 50): Dataset[LogCount] = {
    import records.sparkSession.implicits._
    records
      .groupByKey(_.sessionId)
      .flatMapGroupsWithState[LogState, LogCount](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (sessionId: String, rows: Iterator[MemoryRecord], state: GroupState[LogState]) =>
          val prev = state.getOption.map(_.records).getOrElse(Seq.empty)
          val merged = (prev ++ rows.toSeq).sortBy(-_.ts.getTime).take(cap)
          state.update(LogState(merged))
          Iterator.single(LogCount(sessionId, merged.size))
      }
  }

  /** Streaming per-key top-k: state is ONLY the current k best
    * (score, id) pairs per key — a micro-batch incremental
    * `TakeOrderedAndProject` whose state size is k rows per key no
    * matter how much has streamed past. Emits each key's full
    * current top-k on every batch that touches it (Update mode);
    * ties break on the smaller id, so the stream converges to
    * exactly the batch `orderBy(score desc, id).limit(k)` per key. */
  final case class TopKState(best: Seq[(Double, Long)])
  final case class TopKEntry(key: String, rank: Int, id: Long, score: Double)

  def topKPerKey(
      entries: Dataset[(String, Long, Double)], k: Int = 3): Dataset[TopKEntry] = {
    import entries.sparkSession.implicits._
    entries
      .groupByKey(_._1)
      .flatMapGroupsWithState[TopKState, TopKEntry](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (key: String, rows: Iterator[(String, Long, Double)], state: GroupState[TopKState]) =>
          val prev = state.getOption.map(_.best).getOrElse(Seq.empty)
          val merged = (prev ++ rows.map(r => (r._3, r._2)))
            .sortBy { case (score, id) => (-score, id) }
            .take(k)
          state.update(TopKState(merged))
          merged.iterator.zipWithIndex.map { case ((score, id), i) =>
            TopKEntry(key, i + 1, id, score)
          }
      }
  }

  /** Streaming KMV (bottom-k theta) sketch state: the k smallest
    * distinct portable hashes per key. */
  final case class KmvState(minima: Seq[Long])
  final case class KmvEmit(key: String, kth: Long, nKept: Int)

  /** Streaming KMV distinct sketch — the live side of sk_kmv_distinct:
    * per event type, maintain the k smallest DISTINCT portable hashes
    * of the user id; the latest emission carries the current k-th
    * minimum (θ), from which the estimate (k−1)·2³²/θ derives. The
    * bottom-k-of-a-set is a commutative idempotent merge (union then
    * re-take k), so the final state converges to the batch order
    * statistic under any micro-batch slicing or restart. State is k
    * longs per key — bounded by the sketch, not the stream. */
  def kmvMinima(events: DataFrame, k: Int = 64): Dataset[KmvEmit] = {
    import events.sparkSession.implicits._
    events
      .select(col("event_type"),
        graft.functions.PortableHash.h32(col("user_id").cast("string"))
          .as("hv"))
      .as[(String, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[KmvState, KmvEmit](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (key: String, rows: Iterator[(String, Long)], state: GroupState[KmvState]) =>
          val prev = state.getOption.map(_.minima).getOrElse(Seq.empty)
          val merged = (prev ++ rows.map(_._2)).distinct.sorted.take(k)
          state.update(KmvState(merged))
          Iterator.single(KmvEmit(key, merged.last, merged.size))
      }
  }

  /** Streaming MinHash dedup state: per distinct signature, the
    * canonical (smallest) doc id seen and how many docs mapped to it. */
  final case class SigState(canonicalId: Long, nDocs: Long)
  final case class SigGroup(sig: String, canonicalId: Long, nDocs: Long)

  /** The 8-hash MinHash signature as ONE row-local column: min of each
    * portable universal hash over the doc's distinct shingle array —
    * the same family as the batch [[graft.operators.Dedup.minhashSignatures]]
    * (which explodes + groupBy-mins because its consumers band the
    * signature), evaluated here as `array_min(transform(...))` so a
    * stream computes it with NO shuffle and no state. */
  def minhashSignatureCol(shs: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    import graft.functions.PortableHash._
    concat_ws("_", (0 until 8).map(i =>
      array_min(transform(shs, sh => uhash(h32(sh), i)))): _*)
  }

  /** Streaming MinHash dedup over a document stream (`doc_id`, `text`):
    * signatures are row-local, so the only shuffle is the keyed state
    * exchange on the signature itself. State is O(1) per DISTINCT
    * signature (canonical id + count) — not per document — which is
    * what bounds a 100 TB dedup's state store. Each micro-batch emits
    * the updated group (Update mode); because min and + are commutative
    * monoids, the final emission per signature equals the batch twin
    * `groupBy(sig).agg(min(doc_id), count(*))` for ANY arrival order,
    * batch slicing, or restart — StreamingDedupSpec pins this over the
    * commit-log transport. */
  def minhashDedup(docs: DataFrame): Dataset[SigGroup] = {
    import docs.sparkSession.implicits._
    val sigs = graft.operators.Dedup.shingleArrays(docs)
      .select(col("doc_id"), minhashSignatureCol(col("shs")).as("sig"))
      .as[(Long, String)]
    sigs.groupByKey(_._2)
      .flatMapGroupsWithState[SigState, SigGroup](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (sig: String, rows: Iterator[(Long, String)], state: GroupState[SigState]) =>
          val ids = rows.map(_._1).toSeq
          val prev = state.getOption
          val canonical = (ids ++ prev.map(_.canonicalId)).min
          val n = prev.map(_.nDocs).getOrElse(0L) + ids.size
          state.update(SigState(canonical, n))
          Iterator.single(SigGroup(sig, canonical, n))
      }
  }

  /** Streaming exact token counts over a document stream — the
    * heavy-hitters twin. Tokenization is row-local (no pre-shuffle);
    * the only exchange is the keyed state update, one Long per
    * DISTINCT token — the same O(vocab) bound as the exact side of
    * the batch `sk_heavy_hitters`. Counting is a commutative monoid,
    * so the final emission per token equals the batch
    * `groupBy(tok).count()` for ANY arrival order, batch slicing, or
    * restart, and the streamed heavy-hitter set (freq·k > N) converges
    * to the batch one — StreamingHeavyHittersSpec pins both over the
    * commit-log transport with a mid-stream restart. */
  /** Streaming last-touch attribution — the stateful twin of the batch
    * `ev_attribution` window carry. Per-user state accumulates every
    * click (tse, id, channel) and purchase (tse, id); each batch that
    * touches a user re-derives the attribution of ALL that user's
    * purchases from state and emits them. Because state is the full
    * per-user event set, the LAST emission per purchase equals the
    * batch answer for ANY arrival order, batch slicing, or restart —
    * including a click arriving AFTER the purchase it wins (the
    * eventually-consistent case a monoid can't express; emissions
    * carry nEvents, monotone per user, so "last" is selectable
    * downstream). State is O(events-per-user) — bounded by per-user
    * activity; a production deployment windows it with a timeout. */
  final case class AttEvent(userId: Long, tse: Long, eventId: Long,
                            kind: Int, ch: Option[Long], value: Double)
  final case class AttState(events: Seq[AttEvent])
  final case class AttEmit(userId: Long, purchaseId: Long, channel: Long,
                           value: Double, nEvents: Long)

  def attribution(events: Dataset[AttEvent]): Dataset[AttEmit] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.userId)
      .flatMapGroupsWithState[AttState, AttEmit](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[AttEvent], state: GroupState[AttState]) =>
          val all = state.getOption.map(_.events).getOrElse(Seq.empty) ++ rows
          state.update(AttState(all))
          val clicks = all.filter(_.kind == 0)
          val n = all.size.toLong
          all.filter(_.kind == 1).sortBy(_.eventId).iterator.map { p =>
            val winner = clicks
              .filter(c => c.tse <= p.tse)
              .sortBy(c => (c.tse, c.eventId))
              .lastOption
            AttEmit(user, p.eventId,
              winner.flatMap(_.ch).getOrElse(-1L), p.value, n)
          }
      }
  }

  /** Streaming experiment monitor — the live side of ev_ab_test: exact
    * per-variant purchase-value moments (n, Σv, Σv²) as DECIMAL state.
    * Sums of decimals are a commutative monoid, so Update-mode
    * emissions converge to the batch moments under ANY batch slicing,
    * and the Welch t derived from the final emission equals the batch
    * statistic bit-for-bit. Assignment is the deterministic
    * `user_id % 2` hash bucket; state is two rows. */
  def abMoments(events: DataFrame): DataFrame =
    events.filter(col("event_type") === "purchase")
      .select((col("user_id") % 2).as("variant"),
        col("value").cast(org.apache.spark.sql.types.DecimalType(28, 10)).as("dv"),
        (col("value") * col("value"))
          .cast(org.apache.spark.sql.types.DecimalType(38, 10)).as("dv2"))
      .groupBy(col("variant"))
      .agg(count(lit(1)).as("n"), sum(col("dv")).as("sv"), sum(col("dv2")).as("sv2"))

  /** Streaming switchback monitor — the live side of ev_switchback:
    * per hour-parity arm, the all-events and burn-in-excluded ("core",
    * ≥10 min into the hour) counts and cent-scaled value sums. All
    * four counters are commutative monoids, so the Update-mode
    * aggregate converges to the batch arms under any micro-batch
    * slicing or restart; the burn-in contrast derived from the final
    * emission equals the batch query's. State is two rows. */
  def switchbackMoments(events: DataFrame): DataFrame =
    events
      .select(
        (expr("unix_micros(ts) div 3600000000") % 2).as("arm"),
        when(expr("unix_micros(ts) % 3600000000") >= 600000000L, 1L)
          .otherwise(0L).as("core"),
        col("value").cast(org.apache.spark.sql.types.DecimalType(18, 2)).as("v"))
      .groupBy(col("arm"))
      .agg(count(lit(1)).as("n_all"),
        sum(col("v")).as("s_all"),
        sum(col("core")).as("n_core"),
        sum(when(col("core") === 1L, col("v"))
          .otherwise(lit(0).cast(org.apache.spark.sql.types.DecimalType(18, 2))))
          .as("s_core"))

  /** Streaming embedding-drift monitor — the live side of
    * dq_mmd_drift: per-(split, plane) signed-feature sums over the
    * vector stream. The projection is row-local (exact DECIMAL fold
    * per plane, [[graft.operators.DriftMmd.featAll]]) so the only
    * stateful operator is one Update-mode aggregate whose +/-1 sums
    * are a commutative monoid: any micro-batch slicing or restart
    * converges to the batch rows, and the MMD^2 derived from the final
    * emission equals the batch monitor exactly. State is one row per
    * (split, plane) — 3 x 32, bounded regardless of stream length. */
  def mmdDriftSums(embeddings: DataFrame): DataFrame =
    graft.operators.DriftMmd.splitSums(
      graft.operators.DriftMmd.featAll(embeddings))

  /** Streaming drift monitor — the live side of ev_psi: per value-bin
    * pre/post purchase counts. Integer counts are a commutative
    * monoid, so the Update-mode aggregate converges to the batch bins
    * under any micro-batch slicing or restart, and the PSI derived
    * from the final emission equals the batch gate exactly. State is
    * one row per bin — bounded by the bin count, not the stream. */
  def psiBins(events: DataFrame): DataFrame =
    events.filter(col("event_type") === "purchase")
      .select(least(floor(col("value") / 75), lit(3)).cast("long").as("bin"),
        when(col("ts") < lit("2024-01-16").cast("timestamp"), 1).otherwise(0).as("pre"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"), sum(col("pre")).as("n_pre"),
        sum(lit(1) - col("pre")).as("n_post"))

  final case class Scd2Change(userId: Long, version: Long, attr: String, validFromUs: Long)
  final case class Scd2State(lastAttr: String, nVersions: Long, lastEventId: Long)

  /** Streaming SCD type-2 change detection — the live side of
    * ev_scd2_intervals: per user, emit a (version, attr, valid_from)
    * row whenever the tracked attribute differs from the previous
    * event's. State is one (last attr, version counter, high-water
    * event id) triple per user; rows inside a micro-batch are sorted
    * by (event id) before folding and the high-water mark drops any
    * replayed stragglers, so change detection spans batch boundaries
    * and a restart emits nothing twice. (The commit-log feed appends
    * in event-id order, which the generator makes identical to the
    * batch query's (ts, event_id) order — asserted by the spec's
    * equality with the batch intervals.) Closed-interval ends are a
    * downstream lead() over the emitted change points, exactly as the
    * batch operator derives them. */
  def scd2Changes(events: Dataset[(Long, Long, String, Long)]): Dataset[Scd2Change] = {
    import events.sparkSession.implicits._
    events.groupByKey(_._1)
      .flatMapGroupsWithState[Scd2State, Scd2Change](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[(Long, Long, String, Long)], state: GroupState[Scd2State]) =>
          var st = state.getOption.getOrElse(Scd2State(null, 0L, Long.MinValue))
          val out = Seq.newBuilder[Scd2Change]
          rows.toSeq.sortBy(_._2).foreach { case (_, eventId, attr, tsUs) =>
            if (eventId > st.lastEventId && attr != st.lastAttr) {
              st = Scd2State(attr, st.nVersions + 1, eventId)
              out += Scd2Change(user, st.nVersions, attr, tsUs)
            } else if (eventId > st.lastEventId) {
              st = st.copy(lastEventId = eventId)
            }
          }
          state.update(st)
          out.result().iterator
      }
  }

  final case class Exposure(eventType: String, userId: Long)

  /** Streaming assignment monitor — the live side of ev_srm: emit each
    * (exposure surface, user) pair exactly ONCE, the first time it is
    * seen. State is one boolean per pair (the same bounded-by-entities
    * state a dedup monitor keeps); because the emission set IS the
    * distinct pair set, the arm counts a consumer derives from the
    * topic equal the batch distinct-then-count arms under any
    * micro-batch slicing, and the checkpointed state makes a replay
    * after restart emit nothing twice. */
  def firstExposures(events: DataFrame): Dataset[Exposure] = {
    import events.sparkSession.implicits._
    events.select(col("event_type"), col("user_id"))
      .as[(String, Long)]
      .groupByKey(identity)
      .flatMapGroupsWithState[Boolean, Exposure](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (key: (String, Long), _: Iterator[(String, Long)], state: GroupState[Boolean]) =>
          if (state.exists) Iterator.empty
          else { state.update(true); Iterator.single(Exposure(key._1, key._2)) }
      }
  }

  final case class TokCount(tok: String, n: Long)

  def tokenCounts(docs: DataFrame): Dataset[TokCount] = {
    import docs.sparkSession.implicits._
    val toks = docs.select(explode(split(col("text"), " ")).as("tok")).as[String]
    toks.groupByKey(identity)
      .flatMapGroupsWithState[Long, TokCount](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (tok: String, rows: Iterator[String], state: GroupState[Long]) =>
          val n = state.getOption.getOrElse(0L) + rows.size
          state.update(n)
          Iterator.single(TokCount(tok, n))
      }
  }

  /** The commit-log partitions every epoch-loop monitor writes. */
  private val LogPartitions = 2

  /** The exactly-once epoch loop behind every commit-log monitor below:
    * drain `input` (Trigger.AvailableNow) through `foreachBatch`, map each
    * micro-batch to that epoch's `(ts?, key, value)` rows with the
    * monitor's `rows`, and publish them with [[graft.io.CommitLog.writeEpoch]]
    * to `logDir`. The output mode is Update, which a query without an
    * aggregation runs exactly as Append.
    *
    * Exactly-once: a restart re-runs only the one epoch whose checkpoint
    * commit was lost, under the same epoch id. `rows` depends only on
    * the batch and on what the epoch's predecessor left
    * ([[snapshotEpoch]]), so the replay recomputes the same rows; and
    * `writeEpoch` names each segment after the epoch and never replaces
    * a published one, so the replay publishes exactly the segments the
    * crash left out and keeps every other. */
  private def epochLoop[T](input: Dataset[T], logDir: String, checkpoint: String)(
      rows: (Dataset[T], Long) => DataFrame): StreamingQuery =
    input.writeStream
      .outputMode(OutputMode.Update)
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: Dataset[T], epochId: Long) =>
        CommitLog.writeEpoch(logDir, LogPartitions, epochId, rows(batch, epochId))
      }
      .start()

  /** The epoch-snapshot step of a stateful monitor, run inside
    * [[epochLoop]]: epoch `epochId`'s state is the predecessor snapshot
    * under `$outDir/snapshot/epoch=<id>` merged with the batch's `cur`
    * by the monitor's `merge` (`cur` alone for the first epoch). It
    * overwrites `epoch=<epochId>` and returns that snapshot read back.
    *
    * GC comes first: only this epoch can be replayed, and it reads only
    * its predecessor, so every older snapshot is dead and is deleted.
    * The predecessor itself must survive until this epoch commits
    * ("< prev", never "<= prev"); at rest at most two snapshots remain.
    * Hadoop FS, not java.nio: `outDir` is HDFS/S3/abfs in a real
    * deployment. */
  private def snapshotEpoch(outDir: String, epochId: Long, cur: DataFrame)(
      merge: DataFrame => DataFrame): DataFrame = {
    val sp = cur.sparkSession
    val snapDir = s"$outDir/snapshot"
    val base = new Path(snapDir)
    val fs = base.getFileSystem(sp.sparkContext.hadoopConfiguration)
    val epochs =
      if (!fs.exists(base)) Seq.empty[Long]
      else fs.listStatus(base).toSeq.map(_.getPath.getName)
        .collect { case s if s.startsWith("epoch=") => s.drop(6).toLong }
    val prev = epochs.filter(_ < epochId).maxOption
    prev.foreach(pe => epochs.filter(_ < pe)
      .foreach(e => fs.delete(new Path(s"$snapDir/epoch=$e"), true)))
    prev.fold(cur)(pe => merge(sp.read.parquet(s"$snapDir/epoch=$pe")))
      .write.mode("overwrite").parquet(s"$snapDir/epoch=$epochId")
    sp.read.parquet(s"$snapDir/epoch=$epochId")
  }

  /** The streaming ingest loop behind `dd_incremental`: a document
    * stream (`doc_id`, `text`) is admitted micro-batch by micro-batch
    * against a STATIC dedup index ([[graft.operators.Dedup.DedupIndex]]
    * — exact fingerprints + MinHash band table + shingle arrays, the
    * artifacts a 100 TB corpus maintains as tables), via the exact
    * same batch operator ([[graft.operators.Dedup.admitAgainstIndex]]),
    * and each batch's verdicts land on the `outDir` topic through
    * [[epochLoop]].
    *
    * Because every batch doc is compared ONLY against the index (never
    * batch×batch), each doc's verdict is independent of batch slicing,
    * arrival order, and restarts — the stream output converges exactly
    * to the batch twin `admitAgainstIndex(allDocs, index)`, which
    * StreamingIncrementalDedupSpec pins across a mid-stream restart. */
  def incrementalAdmit(
      docs: DataFrame,
      index: graft.operators.Dedup.DedupIndex,
      outDir: String,
      checkpoint: String): StreamingQuery =
    epochLoop(docs, outDir, checkpoint) { (batch, _) =>
      graft.operators.Dedup.admitAgainstIndex(batch, index).select(
        col("doc_id").cast("string").as("key"),
        concat_ws("|",
          col("exact_dup").cast("string"),
          coalesce(col("near_dup_of").cast("string"), lit("-")),
          coalesce(col("jac").cast("string"), lit("-")),
          col("keep").cast("string")).as("value"))
    }

  /** Streaming learned-constraint monitor — the live twin of
    * `dq_constraint_mining`'s validation half: arriving events
    * (event_id, event_type, cent-exact value) are scored micro-batch
    * by micro-batch against the STATIC learned bounds artifact
    * ([[graft.operators.ConstraintMining.learnedBounds]], persisted by
    * the profiling job) and land on the `outDir` topic through
    * [[epochLoop]]. The verdict per record — ok / violation /
    * unknown_type — depends ONLY on the bounds table, never on other
    * records, so the stream output converges exactly to the batch
    * validation for any batch slicing or restart. This is the alert
    * path a 100 TB ingest runs against yesterday's profile. */
  def constraintMonitor(
      records: DataFrame,
      learned: DataFrame,
      outDir: String,
      checkpoint: String): StreamingQuery =
    epochLoop(records, outDir, checkpoint) { (batch, _) =>
      batch.join(broadcast(learned), Seq("event_type"), "left")
        .select(col("event_id").cast("string").as("key"),
          concat_ws("|", col("event_type"),
            when(col("lo").isNull, lit("unknown_type"))
              .when(col("v") < col("lo") || col("v") > col("hi"),
                lit("violation"))
              .otherwise(lit("ok"))).as("value"))
    }

  /** Streaming entity-resolution admission — the twin of
    * `er_incremental`: arriving records (custkey, name, nation,
    * segment) are matched micro-batch by micro-batch against the
    * STATIC name-registry index
    * ([[graft.operators.EntityRes.buildNameRegistry]] — position-tagged
    * deletion variants + blocking attributes, persisted as a table)
    * via the same batch operator
    * ([[graft.operators.EntityRes.admitAgainstRegistry]]), and land on
    * the `outDir` topic through [[epochLoop]]. Each record's verdict
    * (matched registered entities, best match, is-new) depends only on
    * the index — never batch×batch — so the stream output converges
    * exactly to the batch twin for any batch slicing or restart. */
  def erAdmit(
      records: DataFrame,
      registry: DataFrame,
      outDir: String,
      checkpoint: String): StreamingQuery =
    epochLoop(records, outDir, checkpoint) { (batch, _) =>
      graft.operators.EntityRes.admitAgainstRegistry(batch, registry).select(
        col("c_custkey").cast("string").as("key"),
        concat_ws("|",
          col("n_matches").cast("string"),
          coalesce(col("best_match").cast("string"), lit("-")),
          col("is_new").cast("string")).as("value"))
    }

  /** Streaming group-sequential experiment monitor — the live twin of
    * `ev_sequential_test`: arriving events (user_id, day, purchase
    * flag) fold into per-user (arm, first-activity day,
    * first-conversion day) state through [[snapshotEpoch]] (pairwise
    * `least` on a full-outer join — min is commutative / idempotent,
    * so replays and arrival order cannot change state), then the
    * monitoring table is recomputed from the snapshot by the SAME batch
    * operator ([[graft.operators.Sequential.lookTable]]) and published
    * to `$outDir/log` with ts = epochId. Converges to the batch query
    * for any batch slicing or restart. */
  def sequentialMonitor(
      events: DataFrame,
      outDir: String,
      checkpoint: String): StreamingQuery =
    epochLoop(events, s"$outDir/log", checkpoint) { (batch, epochId) =>
      val cur = batch
        .groupBy(col("user_id"))
        .agg(min(col("day")).as("d0"),
          min(when(col("purchase"), col("day"))).as("dc"))
      val snapshot = snapshotEpoch(outDir, epochId, cur) { prev =>
        prev.select(col("user_id"), col("d0").as("p_d0"), col("dc").as("p_dc"))
          .join(cur, Seq("user_id"), "full_outer")
          .select(col("user_id"),
            least(col("p_d0"), col("d0")).as("d0"),
            least(col("p_dc"), col("dc")).as("dc"))
      }
      graft.operators.Sequential.lookTable(
        snapshot.select(col("user_id"), (col("user_id") % 2).as("arm"),
          col("d0"), col("dc")))
        .select(
          lit(epochId * 1000000L).as("ts"),
          col("look").cast("string").as("key"),
          concat_ws("|", col("day"), col("n_a"), col("n_b"),
            col("conv_a"), col("conv_b"),
            coalesce(col("z").cast("string"), lit("-")),
            col("boundary"),
            coalesce(col("crossed").cast("string"), lit("-"))).as("value"))
    }

  /** Live sessionization — the stateful half of the streaming
    * concurrency monitor. Per-user state is the full (event_id, t)
    * set; each micro-batch that touches a user re-derives ALL that
    * user's sessions under EXACTLY the batch definition
    * ([[graft.operators.IntervalJoin.sessionIntervals]]: 30-minute gap
    * between consecutive t's in event_id order, s/e = min/max t per
    * session) and emits the full list with a monotone n_user_events
    * marker. Because state is the complete per-user event set, the
    * LAST emission per user equals the batch sessions for ANY arrival
    * order, batch slicing, or restart — the attribution pattern. State
    * is O(events-per-user); a production deployment windows it with a
    * timeout once sessions age out of the monitoring horizon. */
  final case class SessEvent(userId: Long, eventId: Long, t: Long)
  final case class SessState(events: Seq[(Long, Long)])
  final case class SessionEmit(user_id: Long, session_no: Long,
                               s: Long, e: Long, n_user_events: Long)

  def liveSessions(ev: Dataset[SessEvent],
      gapSec: Long = 1800): Dataset[SessionEmit] = {
    import ev.sparkSession.implicits._
    ev.groupByKey(_.userId)
      .flatMapGroupsWithState[SessState, SessionEmit](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[SessEvent], state: GroupState[SessState]) =>
          val prev = state.getOption.map(_.events).getOrElse(Seq.empty)
          val all = (prev ++ rows.map(r => (r.eventId, r.t)))
            .distinct.sortBy(_._1)
          state.update(SessState(all))
          val emits = scala.collection.mutable.ArrayBuffer[SessionEmit]()
          var sn = 1L
          var lo = all.head._2; var hi = all.head._2; var prevT = all.head._2
          for ((_, t) <- all.tail) {
            if (t - prevT > gapSec) {
              emits += SessionEmit(uid, sn, lo, hi, all.size.toLong)
              sn += 1; lo = t; hi = t
            } else { lo = math.min(lo, t); hi = math.max(hi, t) }
            prevT = t
          }
          emits += SessionEmit(uid, sn, lo, hi, all.size.toLong)
          emits.iterator
      }
  }

  /** Streaming interval-overlap / concurrency monitor — the live twin
    * of `jx_interval_overlap`. [[liveSessions]] maintains per-user
    * session state; each epoch then (1) merges the touched users'
    * refreshed session lists into the snapshot through [[snapshotEpoch]]
    * (replace-by-user: the emission is always the user's COMPLETE
    * current list), and (2) publishes the hour-cell-bucketed overlap
    * counts of the whole snapshot
    * ([[graft.operators.IntervalJoin.overlapCounts]] — the identical
    * join machinery as the batch query) to `$outDir/log` with
    * ts = epochId, so the max-ts rows of the log ARE the converged
    * monitor readout. */
  def concurrencyMonitor(
      ev: Dataset[SessEvent],
      outDir: String,
      checkpoint: String): StreamingQuery =
    epochLoop(liveSessions(ev), s"$outDir/log", checkpoint) { (emits, epochId) =>
      val cur = emits.toDF()
      val snapshot = snapshotEpoch(outDir, epochId, cur) { prev =>
        prev.join(cur.select("user_id").distinct(), Seq("user_id"), "left_anti")
          .unionByName(cur)
      }
      graft.operators.IntervalJoin.overlapCounts(
        snapshot.select(col("user_id"), col("session_no"), col("s"), col("e")))
        .select(
          lit(epochId * 1000000L).as("ts"),
          concat_ws("|", col("user_id"), col("session_no")).as("key"),
          concat_ws("|", col("session_start"), col("session_end"),
            col("n_overlaps")).as("value"))
    }

  /** Streaming funnel-stage tracker — the stateful twin of the batch
    * `ev_funnel` chained-minimum semantics (first view, first click at
    * or after it, first purchase at or after that). Out-of-order
    * arrival can RETROACTIVELY re-qualify a stage (an earlier view
    * arriving late lowers v_ts, which may admit an earlier click), so
    * per-user state keeps the full per-type timestamp lists and each
    * batch that touches a user re-derives all three stage times from
    * state — the attribution pattern: the LAST emission per user
    * (n_events is the monotone selector) equals the batch answer for
    * ANY arrival order, batch slicing, or restart. State is
    * O(funnel-relevant events per user); production windows it with a
    * timeout once users age out of the attribution horizon. */
  final case class FunnelEvent(userId: Long, tse: Long, kind: Int)
  final case class FunnelState(views: Seq[Long], clicks: Seq[Long],
                               purchases: Seq[Long])
  final case class FunnelEmit(user_id: Long, v_ts: Option[Long],
                              c_ts: Option[Long], p_ts: Option[Long],
                              n_events: Long)

  def funnelStages(ev: Dataset[FunnelEvent]): Dataset[FunnelEmit] = {
    import ev.sparkSession.implicits._
    ev.groupByKey(_.userId)
      .flatMapGroupsWithState[FunnelState, FunnelEmit](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[FunnelEvent], state: GroupState[FunnelState]) =>
          val st = state.getOption.getOrElse(FunnelState(Nil, Nil, Nil))
          val fresh = rows.toSeq
          val views = st.views ++ fresh.filter(_.kind == 0).map(_.tse)
          val clicks = st.clicks ++ fresh.filter(_.kind == 1).map(_.tse)
          val purchases = st.purchases ++ fresh.filter(_.kind == 2).map(_.tse)
          state.update(FunnelState(views, clicks, purchases))
          val vts = views.minOption
          val cts = vts.flatMap(v => clicks.filter(_ >= v).minOption)
          val pts = cts.flatMap(c => purchases.filter(_ >= c).minOption)
          Iterator.single(FunnelEmit(uid, vts, cts, pts,
            (views.size + clicks.size + purchases.size).toLong))
      }
  }

  /** Streaming exact dedup with BOUNDED state:
    * `dropDuplicatesWithinWatermark` keeps one state row per key only
    * until the watermark passes that key's first-seen event time plus
    * the delay, then evicts it — the contract a 100 TB/day ingest
    * needs (plain `dropDuplicates` on a stream never evicts and the
    * state store grows without bound). The tradeoff it buys: a
    * duplicate arriving AFTER its key's state expired is re-emitted.
    * StreamingWithinWatermarkSpec pins both sides — suppression inside
    * the delay, re-emission after expiry — across a checkpointed
    * restart. */
  def dedupWithinWatermark(events: DataFrame, delay: String): DataFrame =
    events
      .withWatermark("ts", delay)
      .dropDuplicatesWithinWatermark("k")
}
