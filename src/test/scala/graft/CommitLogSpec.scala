package graft

import java.nio.file.{Files, Paths}

import graft.io.{CommitLog, CommitLogCommit, CommitLogDataWriter, CommitLogStreamingWrite}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write.WriterCommitMessage
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** The commit-log DSv2 source/sink: topic/partition/offset reads,
  * checkpointed resume, admission control, and exactly-once writes. */
class CommitLogSpec extends SparkSpec {

  private def tmpDir(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  test("batch read returns every record with per-partition offsets in append order") {
    val dir = tmpDir("graft_cl_batch")
    CommitLog.append(dir, 0, Seq((1000L, "k0", "a"), (2000L, "k1", "b")))
    CommitLog.append(dir, 0, Seq((3000L, "k2", "c")))        // second segment
    CommitLog.append(dir, 1, Seq((1500L, null, "only")))     // null key survives

    val df = spark.read.format("commit-log").load(dir)
    val rows = df.orderBy("partition", "offset")
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getString(3), r.getString(4)))
    assert(rows.toSeq == Seq(
      (0, 0L, "k0", "a"), (0, 1L, "k1", "b"), (0, 2L, "k2", "c"),
      (1, 0L, null, "only")))
  }

  test("micro-batch stream resumes from the checkpoint without re-reading") {
    val dir = tmpDir("graft_cl_resume")
    val ckpt = tmpDir("graft_cl_resume_ckpt")
    CommitLog.append(dir, 0, (0 until 5).map(i => (i * 1000L, s"k$i", s"v$i")))

    def drain(): Set[String] = {
      val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      val q = spark.readStream.format("commit-log").load(dir)
        .writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          batch.select("key").collect().foreach(r => seen.add(r.getString(0)))
        }
        .trigger(Trigger.AvailableNow()).start()
      try q.awaitTermination(60000) finally q.stop()
      import scala.jdk.CollectionConverters._
      seen.iterator().asScala.toSet
    }
    assert(drain() == (0 until 5).map(i => s"k$i").toSet)

    // append more records, restart with the SAME checkpoint: the second
    // run must see ONLY the new records (offsets resume)
    CommitLog.append(dir, 0, (5 until 8).map(i => (i * 1000L, s"k$i", s"v$i")))
    val second = drain()
    assert(second == Set("k5", "k6", "k7"), s"re-read detected: $second")
  }

  test("maxRecordsPerTrigger bounds each micro-batch (admission control)") {
    val dir = tmpDir("graft_cl_rate")
    CommitLog.append(dir, 0, (0 until 10).map(i => (i * 1000L, s"a$i", "x")))
    CommitLog.append(dir, 1, (0 until 10).map(i => (i * 1000L, s"b$i", "x")))

    val q = spark.readStream.format("commit-log")
      .option("maxRecordsPerTrigger", "6")
      .load(dir)
      .writeStream.format("memory").queryName("cl_rate")
      .option("checkpointLocation", tmpDir("graft_cl_rate_ckpt"))
      .trigger(Trigger.AvailableNow()).start()
    try q.awaitTermination(60000) finally q.stop()

    assert(spark.table("cl_rate").count() == 20)
    val batches = q.recentProgress.filter(_.numInputRows > 0)
    assert(batches.length >= 4, s"expected >=4 bounded batches, got ${batches.length}")
    assert(batches.forall(_.numInputRows <= 6),
      s"a batch exceeded the budget: ${batches.map(_.numInputRows).mkString(",")}")
  }

  test("streaming sink round-trips records and routes keys to stable partitions") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = tmpDir("graft_cl_sink")
    val stream = MemoryStream[(String, String)]
    stream.addData((0 until 20).map(i => (s"key$i", s"payload$i")))
    val q = stream.toDF.toDF("key", "value")
      .writeStream.format("commit-log")
      .option("path", dir).option("partitions", "4")
      .option("checkpointLocation", tmpDir("graft_cl_sink_ckpt"))
      .start()
    try q.processAllAvailable() finally q.stop()

    val back = spark.read.format("commit-log").load(dir)
    assert(back.count() == 20)
    assert(back.select("partition").distinct().count() > 1) // keys spread out
    // a key's partition is a pure function of the key
    val parts = back.select("key", "partition").as[(String, Int)].collect().toMap
    assert(parts("key3") == math.floorMod("key3".hashCode, 4))
    assert(back.select("value").as[String].collect().toSet ==
      (0 until 20).map(i => s"payload$i").toSet)
  }

  test("replayed epoch commit is idempotent (exactly-once contract)") {
    val dir = tmpDir("graft_cl_epoch")
    val write = new CommitLogStreamingWrite(dir, 2, CommitLog.schema)
    val p0 = CommitLog.partitionDir(dir, 0)

    // a writer attempt's staged segment: (destination, unique temp file)
    def staged(epoch: Long, lines: Seq[String]): (String, String) = {
      Files.createDirectories(p0)
      val tmp = Files.createTempFile(p0, ".tmp-", ".log")
      Files.write(tmp, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
      (p0.resolve(f"seg-e$epoch%012d-w00000-p0.log").toString, tmp.toString)
    }
    // first commit of epoch 7
    val m1: Array[WriterCommitMessage] = Array(CommitLogCommit(Seq(
      staged(7L, Seq(CommitLog.encodeLine(1L, "k", "v1"))))))
    write.commit(7L, m1)
    assert(CommitLog.latestOffsets(dir) == Map(0 -> 1L))

    // epoch 7 re-runs after a failure: same destination name, different
    // attempt's temp file — the commit must be a no-op, not an append
    val m2: Array[WriterCommitMessage] = Array(CommitLogCommit(Seq(
      staged(7L, Seq(CommitLog.encodeLine(1L, "k", "v1"))))))
    write.commit(7L, m2)
    assert(CommitLog.latestOffsets(dir) == Map(0 -> 1L), "replayed epoch duplicated records")

    // a NEW epoch appends normally
    val m3: Array[WriterCommitMessage] = Array(CommitLogCommit(Seq(
      staged(8L, Seq(CommitLog.encodeLine(2L, "k", "v2"))))))
    write.commit(8L, m3)
    assert(CommitLog.latestOffsets(dir) == Map(0 -> 2L))
    import scala.jdk.CollectionConverters._
    assert(!Files.list(p0).iterator().asScala.exists(_.getFileName.toString.startsWith(".tmp-")),
      "temp files left behind")
  }

  test("a retried epoch writer never rewrites a segment an earlier attempt published") {
    import spark.implicits._
    val dir = tmpDir("graft_cl_retry")
    val input = StructType(Seq(StructField("key", StringType), StructField("value", StringType)))
    // one writer attempt of epoch 7, writer 0, staging one segment
    def attempt(value: String): CommitLogCommit = {
      val w = new CommitLogDataWriter(dir, 1, input, 0, 7L)
      w.write(InternalRow(UTF8String.fromString("k"), UTF8String.fromString(value)))
      w.commit().asInstanceOf[CommitLogCommit]
    }
    val Seq((dst, tmp)) = attempt("v1").files
    // the driver died after linking the first attempt's temp as the
    // segment and before deleting the temp
    Files.createLink(Paths.get(dst), Paths.get(tmp))
    val published = Files.readAllBytes(Paths.get(dst)).toSeq

    // the replayed epoch's writer stages different bytes; its commit
    // must leave the published segment alone
    new CommitLogStreamingWrite(dir, 1, input).commit(7L, Array(attempt("v2-longer")))
    assert(Files.readAllBytes(Paths.get(dst)).toSeq == published, "published segment rewritten")
    assert(spark.read.format("commit-log").load(dir).select("value").as[String]
      .collect().toSeq == Seq("v1"))
    // the first attempt's temp, left by the driver that died, is swept
    import scala.jdk.CollectionConverters._
    val temps = Files.list(CommitLog.partitionDir(dir, 0)).iterator().asScala
      .map(_.getFileName.toString).filter(_.startsWith(".tmp-")).toSeq
    assert(temps.isEmpty, s"no .tmp-* left in p0: $temps")
  }

  test("concurrent appenders to one partition publish every segment once and leave no temp file") {
    val dir = tmpDir("graft_cl_concurrent")
    val p0 = CommitLog.partitionDir(dir, 0)
    Files.createDirectories(p0)
    // a temp file left behind by a crashed writer is never read
    Files.write(p0.resolve(".tmp-x.log"),
      (CommitLog.encodeLine(0L, "stray", "stray") + "\n").getBytes("UTF-8"))
    val start = new java.util.concurrent.CyclicBarrier(2)
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = Seq("a", "b").map { t =>
      new Thread(() =>
        try {
          start.await()
          (0 until 50).foreach(i => CommitLog.append(dir, 0, Seq((i.toLong, t, s"$t$i"))))
        } catch { case e: Throwable => errors.add(e) })
    }
    threads.foreach(_.start())
    threads.foreach(_.join(60000))
    assert(errors.isEmpty, s"an appender threw: ${errors.peek()}")

    val rows = spark.read.format("commit-log").load(dir)
      .select("offset", "value").collect().map(r => (r.getLong(0), r.getString(1)))
    assert(rows.map(_._2).sorted.toSeq ==
      (0 until 50).flatMap(i => Seq(s"a$i", s"b$i")).sorted)
    assert(rows.map(_._1).sorted.toSeq == (0L until 100L))
    import scala.jdk.CollectionConverters._
    val temps = Files.list(p0).iterator().asScala
      .map(_.getFileName.toString).filter(_.startsWith(".tmp-")).toSeq
    assert(temps == Seq(".tmp-x.log"), s"temp files left behind: $temps")
  }

  test("a publish signals the topic's append monitor, under any spelling of its path") {
    val dir = tmpDir("graft_cl_signal")
    val signal = CommitLog.appendSignal(dir)
    assert(CommitLog.appendSignal(s"$dir/p0/..") eq signal)
    val seen = signal.generation
    CommitLog.append(dir, 1, Seq((1L, "k", "v")))
    assert(signal.generation == seen + 1)
    // a count already past `seen` returns at once instead of waiting
    val t0 = System.nanoTime()
    signal.awaitAfter(seen, 60000L)
    assert((System.nanoTime() - t0) / 1e9 < 30.0)
    // an idle topic times out
    signal.awaitAfter(signal.generation, 20L)
  }

  test("partition predicates prune directories; projections prune columns") {
    import spark.implicits._
    val dir = tmpDir("graft_cl_prune")
    (0 until 3).foreach { pid =>
      CommitLog.append(dir, pid, (0 until 4).map(i => (i * 1000L, s"k$pid-$i", "x")))
    }
    val full = spark.read.format("commit-log").load(dir)
    assert(full.rdd.getNumPartitions == 3)

    // partition = 1 must plan exactly ONE input partition (directory
    // pruning, the queue analogue of parquet partition pruning)
    val one = full.filter($"partition" === 1)
    assert(one.rdd.getNumPartitions == 1)
    assert(one.select($"key").as[String].collect().toSet ==
      (0 until 4).map(i => s"k1-$i").toSet)

    // IN-list over two partitions
    val two = full.filter($"partition".isin(0, 2))
    assert(two.rdd.getNumPartitions == 2)
    assert(two.count() == 8)

    // pruned projection (no value/ts) still reads correctly
    val keysOnly = full.select($"key", $"offset")
    assert(keysOnly.schema.fieldNames.toSeq == Seq("key", "offset"))
    assert(keysOnly.count() == 12)
  }

  test("windowed aggregation over the commit-log stream matches the batch twin") {
    import spark.implicits._
    val dir = tmpDir("graft_cl_window")
    // events staged into the log: value carries the event_type
    val events = sources.Tables.events(spark, sf)
      .select($"ts", $"event_type", $"event_id")
      .collect()
    events.grouped(1 + events.length / 2).zipWithIndex.foreach { case (chunk, pid) =>
      CommitLog.append(dir, pid, chunk.toSeq.map(r =>
        (r.getTimestamp(0).getTime * 1000L, r.getLong(2).toString, r.getString(1))))
    }

    val streamed = {
      val src = spark.readStream.format("commit-log").load(dir)
        .select($"ts", $"value".as("event_type"), lit(1.0).as("value"))
      val q = graft.streaming.Streams.tumblingCounts(src)
        .writeStream.format("memory").queryName("cl_window")
        .outputMode("complete")
        .option("checkpointLocation", tmpDir("graft_cl_window_ckpt"))
        .start()
      try q.processAllAvailable() finally q.stop()
      spark.table("cl_window").select($"window_start", $"event_type", $"n")
        .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
    }
    val batch = graft.streaming.Streams.tumblingCounts(
        sources.Tables.events(spark, sf)
          .select($"ts", $"event_type", lit(1.0).as("value")))
      .select($"window_start", $"event_type", $"n")
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
    assert(streamed == batch && streamed.nonEmpty)
  }
}
