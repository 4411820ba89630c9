package graft

import java.sql.Timestamp

import graft.agent.ReactLoop
import graft.memory.{MemoryAnalysis, MemoryStore}
import graft.model.Message
import graft.serve.{ChatService, Snapshot}
import graft.streaming.Streams
import graft.streaming.Streams.{AnalysisEvent, MemorySnapshot}
import graft.task.TaskStore
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.expr
import org.apache.spark.sql.streaming.OutputMode

/** Structured Streaming semantics: windowed aggregations agree with
  * their batch twins, and the keyed memory-state operator converges to
  * the row fold the served commit applies (SURVEY.md §2.9).
  */
class StreamingSpec extends SparkSpec {

  private def ts(s: Long) = new Timestamp(s * 1000L)

  test("streaming tumbling window agrees with the batch formulation") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val batchEvents = sources.Tables.events(spark, sf)
      .select($"ts", $"event_type", $"value")
    val rows = batchEvents.collect()

    val stream = MemoryStream[(Timestamp, String, Double)]
    stream.addData(rows.map(r => (r.getTimestamp(0), r.getString(1), r.getDouble(2))).toSeq)
    val sdf = stream.toDF.toDF("ts", "event_type", "value")
    val q = Streams.tumblingCounts(sdf).writeStream
      .format("memory").queryName("tumbling_test").outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()

    val streamed = spark.table("tumbling_test")
      .select($"window_start", $"event_type", $"n")
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
    val batch = Streams.tumblingCounts(batchEvents)
      .select($"window_start", $"event_type", $"n")
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  test("file-source replay of the real events table matches the batch windows") {
    import spark.implicits._
    // stage the parquet into a watched directory (file streaming source
    // reads a directory, discovering files as they appear)
    val dir = java.nio.file.Files.createTempDirectory("graft_replay")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/events.parquet"),
      dir.resolve("events-000.parquet"))
    val schema = spark.read.parquet(s"$sf/events.parquet").schema
    val stream = sources.Tables.normalizeEventTs(
        spark.readStream.schema(schema).parquet(dir.toString))
      .select($"ts", $"event_type", $"value")
    val q = Streams.tumblingCounts(stream).writeStream
      .format("memory").queryName("replay_test").outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("replay_test")
      .select($"window_start", $"event_type", $"n")
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
    val batch = Streams.tumblingCounts(
        sources.Tables.events(spark, sf).select($"ts", $"event_type", $"value"))
      .select($"window_start", $"event_type", $"n")
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
    assert(streamed == batch && streamed.nonEmpty)
  }

  test("rate-limited replay (maxFilesPerTrigger=1 + AvailableNow) drains in bounded micro-batches") {
    import spark.implicits._
    // stage the table as 3 separate files; cap ingestion at one file per
    // micro-batch — the backpressure pattern for backfills (bounded
    // state growth per batch) — and AvailableNow to drain and stop.
    val dir = java.nio.file.Files.createTempDirectory("graft_rate_replay")
    val src = sources.Tables.events(spark, sf).select($"ts", $"event_type", $"value")
    src.repartition(3).write.parquet(dir.toString + "/in")
    val schema = src.schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(dir.toString + "/in")
    val q = Streams.tumblingCounts(stream).writeStream
      .format("memory").queryName("rate_replay_test").outputMode("complete")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try q.awaitTermination(120000) finally q.stop()
    val batches = q.recentProgress.filter(_.numInputRows > 0)
    assert(batches.length >= 3, s"expected >=3 rate-limited micro-batches, got ${batches.length}")
    val streamed = spark.table("rate_replay_test")
      .select($"window_start", $"event_type", $"n")
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
    val batch = Streams.tumblingCounts(src)
      .select($"window_start", $"event_type", $"n")
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
    assert(streamed == batch && streamed.nonEmpty)
  }

  test("stream-stream interval join matches the batch join on the same data") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // clicks joined to purchases by the same user within 30 minutes
    // AFTER the click — the watermarked interval-join pattern.
    val clicks = Seq((ts(100), 1L, "c1"), (ts(2000), 1L, "c2"), (ts(100), 2L, "c3"))
    val buys = Seq((ts(900), 1L, "b1"), (ts(5000), 1L, "b2"), (ts(1900), 2L, "b3"))

    val cs = MemoryStream[(Timestamp, Long, String)]
    val bs = MemoryStream[(Timestamp, Long, String)]
    cs.addData(clicks)
    bs.addData(buys)
    val cdf = cs.toDF.toDF("cts", "cuser", "click")
      .withWatermark("cts", "1 hour")
    val bdf = bs.toDF.toDF("bts", "buser", "buy")
      .withWatermark("bts", "1 hour")
    val joined = cdf.join(bdf,
      expr("cuser = buser AND bts >= cts AND bts <= cts + INTERVAL 30 MINUTES"))
    val q = joined.select($"click", $"buy").writeStream
      .format("memory").queryName("ss_join_test").outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("ss_join_test")
      .collect().map(r => (r.getString(0), r.getString(1))).toSet

    val batch = clicks.toDF("cts", "cuser", "click")
      .join(buys.toDF("bts", "buser", "buy"),
        expr("cuser = buser AND bts >= cts AND bts <= cts + INTERVAL 30 MINUTES"))
      .select($"click", $"buy")
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(streamed == batch && streamed.nonEmpty)
    assert(streamed == Set(("c1", "b1"), ("c3", "b3")))
  }

  test("streaming memory updates converge to the batch store fold") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val updates = Seq(
      AnalysisEvent("s", ts(1), "sum1", Seq("a", "b"), Seq("da", "db"), Seq("f1")),
      AnalysisEvent("s", ts(2), "sum2", Seq("a"), Seq("da2"), Seq.empty),
      AnalysisEvent("s", ts(3), "sum3", Seq("c"), Seq("dc"), Seq("f2", "f3")),
      AnalysisEvent("s", ts(4), "sum4", Seq.empty, Seq.empty, Seq.empty))

    // streaming: two micro-batches through flatMapGroupsWithState
    val stream = MemoryStream[AnalysisEvent]
    val q = Streams.memoryUpdates(stream.toDS(), savedSummaryNum = 3, maxTopics = 2)
      .writeStream.format("memory").queryName("mem_test")
      .outputMode(OutputMode.Update).start()
    try {
      stream.addData(updates.take(2))
      q.processAllAvailable()
      stream.addData(updates.drop(2))
      q.processAllAvailable()
    } finally q.stop()
    val last = spark.table("mem_test").as[MemorySnapshot].collect()
      .maxBy(_.ts.getTime)

    // batch: same analyses through the row fold, Snapshot.commit
    val store = updates.foldLeft(Snapshot.of(ChatService.State(
      MemoryStore.empty(spark, graft.memory.MemoryConfig(savedSummaryNum = 3, maxTopics = 2)),
      TaskStore.empty(spark), spark.emptyDataset[Message]), Nil)) { (snap, ev) =>
      snap.commit("s", ev.ts, ReactLoop.Writes(Nil, Nil, Nil, None, Nil, Some(MemoryAnalysis(
        Option(ev.summary), ev.topicNames.zip(ev.topicDescriptions), ev.keyFacts))))
    }.state.memory
    val batchTopics = store.topics.collect().map(t => t.name -> t.frequency).toMap
    val streamTopics = last.topicNames.zip(last.topicFrequencies).toMap
    assert(streamTopics == batchTopics, s"stream=$streamTopics batch=$batchTopics")
    val batchLatest = store.latestSummary.select("text").as[String].collect().head
    assert(last.latestSummary == batchLatest)
    assert(last.nFacts == 3L)
  }

  test("streaming session windows converge to the batch session_window") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def at(h: Int, m: Int) = Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
    // user 1: two sessions (gap > 30 min); user 2: one session
    val data = Seq(
      (at(10, 0), 1L, 1.0), (at(10, 10), 1L, 2.0),   // session A
      (at(11, 30), 1L, 3.0),                          // session B
      (at(10, 5), 2L, 4.0))
    val sentinel = (at(20, 0), 99L, 0.0)              // advances watermark
    val stream = MemoryStream[(Timestamp, Long, Double)]
    val q = Streams.sessionCounts(
        stream.toDF.toDF("ts", "user_id", "value"))
      .writeStream.format("memory").queryName("session_test")
      .outputMode(OutputMode.Append).start()
    try {
      stream.addData(data)
      q.processAllAvailable()
      stream.addData(Seq(sentinel))
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("session_test")
      .filter($"user_id" =!= 99L)
      .select($"user_id", $"session_start", $"n_events", $"value_sum")
      .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2), r.getDouble(3))).toSet
    val batch = Streams.sessionCounts(
        (data :+ sentinel).toDF("ts", "user_id", "value"))
      .filter($"user_id" =!= 99L)
      .select($"user_id", $"session_start", $"n_events", $"value_sum")
      .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2), r.getDouble(3))).toSet
    assert(streamed == batch, s"stream=$streamed batch=$batch")
    assert(streamed.size == 3) // two sessions for user 1, one for user 2
  }

  test("dynamic-gap streaming session windows converge to the batch formulation") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def at(h: Int, m: Int) = Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
    // user 1: a purchase holds the session open 60 min (event at +40
    // still merges); user 2: a view's 15-min gap closes before +40
    val data = Seq(
      (at(10, 0), 1L, "purchase", 1.0), (at(10, 40), 1L, "view", 2.0),
      (at(10, 0), 2L, "view", 3.0), (at(10, 40), 2L, "view", 4.0))
    val sentinel = (at(20, 0), 99L, "view", 0.0)
    val stream = MemoryStream[(Timestamp, Long, String, Double)]
    val q = Streams.sessionCountsDynamic(
        stream.toDF.toDF("ts", "user_id", "event_type", "value"))
      .writeStream.format("memory").queryName("session_dyn_test")
      .outputMode(OutputMode.Append).start()
    try {
      stream.addData(data)
      q.processAllAvailable()
      stream.addData(Seq(sentinel))
      q.processAllAvailable()
    } finally q.stop()
    def key(df: org.apache.spark.sql.DataFrame) = df
      .filter($"user_id" =!= 99L)
      .select($"user_id", $"session_start", $"n_events", $"value_sum")
      .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2), r.getDouble(3))).toSet
    val streamed = key(spark.table("session_dyn_test"))
    val batch = key(Streams.sessionCountsDynamic(
      (data :+ sentinel).toDF("ts", "user_id", "event_type", "value")))
    assert(streamed == batch, s"stream=$streamed batch=$batch")
    assert(streamed.size == 3) // user 1 merged by the purchase gap; user 2 split
  }

  test("watermark drops late events in append mode") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def at(h: Int, m: Int) = Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
    val stream = MemoryStream[(Timestamp, String, Double)]
    val q = Streams.tumblingCounts(stream.toDF.toDF("ts", "event_type", "value"))
      .writeStream.format("memory").queryName("late_test")
      .outputMode(OutputMode.Append).start()
    try {
      // batch 1: two events in the 10:00 window, one at 13:00 that
      // advances the watermark to 12:50 and closes the 10:00 window
      stream.addData(Seq((at(10, 0), "a", 1.0), (at(10, 30), "a", 1.0), (at(13, 0), "a", 1.0)))
      q.processAllAvailable()
      // batch 2: a LATE event for the already-closed 10:00 window
      // (behind the 12:50 watermark) must be dropped
      stream.addData(Seq((at(10, 45), "a", 1.0), (at(15, 0), "a", 1.0)))
      q.processAllAvailable()
      // advance far enough to close everything still open
      stream.addData(Seq((at(20, 0), "a", 1.0)))
      q.processAllAvailable()
    } finally q.stop()
    val counts = spark.table("late_test")
      .collect().map(r => r.getTimestamp(0) -> r.getLong(2)).toMap
    assert(counts(at(10, 0)) == 2L, s"late event was not dropped: $counts")
  }

  test("streaming dedup drops replayed records within the watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def at(h: Int, m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
    val stream = MemoryStream[(Long, java.sql.Timestamp, String)]
    val q = stream.toDF.toDF("event_id", "ts", "payload")
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("event_id")
      .writeStream.format("memory").queryName("dedup_test")
      .outputMode("append").start()
    try {
      // batch 1: two distinct events plus an in-batch duplicate
      stream.addData(Seq((1L, at(10, 0), "a"), (2L, at(10, 5), "b"), (1L, at(10, 1), "a-dup")))
      q.processAllAvailable()
      // batch 2: a replay of event 1 (at-least-once upstream delivery)
      // within the watermark window — must be suppressed
      stream.addData(Seq((1L, at(10, 30), "a-replay"), (3L, at(11, 0), "c")))
      q.processAllAvailable()
    } finally q.stop()
    val ids = spark.table("dedup_test").select($"event_id").as[Long].collect().toSeq
    assert(ids.sorted == Seq(1L, 2L, 3L), s"duplicates not dropped: $ids")
  }

  test("foreachBatch sink lands every micro-batch in the parquet store") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_sink").toString
    val stream = MemoryStream[graft.model.MemoryRecord]
    val q = Streams.recordsToStore(stream.toDS(), dir, s"$dir/ckpt")
    try {
      stream.addData((1 to 3).map(i => graft.model.MemoryRecord("s", ts(i), s"r$i")))
      q.processAllAvailable()
      stream.addData((4 to 5).map(i => graft.model.MemoryRecord("s", ts(i), s"r$i")))
      q.processAllAvailable()
    } finally q.stop()
    // 5 rows, each content once: a set would hide a duplicated epoch
    val stored = spark.read.parquet(s"$dir/records")
      .as[graft.model.MemoryRecord].collect().map(_.content).sorted.toSeq
    assert(stored == Seq("r1", "r2", "r3", "r4", "r5"))
  }

  test("bounded log append keeps at most cap records per key") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[graft.model.MemoryRecord]
    val q = Streams.boundedLogAppend(stream.toDS(), cap = 3)
      .writeStream.format("memory").queryName("log_test")
      .outputMode(OutputMode.Update).start()
    try {
      stream.addData((1 to 5).map(i => graft.model.MemoryRecord("s", ts(i), s"r$i")))
      q.processAllAvailable()
    } finally q.stop()
    val counts = spark.table("log_test").as[Streams.LogCount].collect()
    assert(counts.last.kept == 3)
  }

  test("streaming per-key top-k converges to the batch order-by-limit") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // interleave so every key's final top-3 spans both micro-batches,
    // including a tie (score 5.0) that must break on the smaller id
    val chunk1 = Seq(("u1", 1L, 3.0), ("u1", 2L, 5.0), ("u2", 3L, 1.0), ("u1", 4L, 0.5))
    val chunk2 = Seq(("u1", 5L, 5.0), ("u1", 6L, 4.0), ("u2", 7L, 2.0), ("u3", 8L, 9.0))
    val collected = scala.collection.mutable.Map[String, Seq[(Int, Long, Double)]]()
    val stream = MemoryStream[(String, Long, Double)]
    stream.addData(chunk1)
    val q = Streams.topKPerKey(stream.toDS(), 3).writeStream
      .outputMode("update")
      .foreachBatch { (df: org.apache.spark.sql.Dataset[Streams.TopKEntry], _: Long) =>
        df.collect().groupBy(_.key).foreach { case (k, rows) =>
          collected(k) = rows.sortBy(_.rank).map(r => (r.rank, r.id, r.score)).toSeq
        }
      }
      .start()
    try {
      q.processAllAvailable()
      stream.addData(chunk2)
      q.processAllAvailable()
    } finally q.stop()
    val batch = (chunk1 ++ chunk2).groupBy(_._1).map { case (k, rows) =>
      k -> rows.sortBy(r => (-r._3, r._2)).take(3).zipWithIndex
        .map { case ((_, id, s), i) => (i + 1, id, s) }
    }
    assert(collected.toMap == batch)
    assert(collected("u1") == Seq((1, 2L, 5.0), (2, 5L, 5.0), (3, 6L, 4.0)))
  }
}
