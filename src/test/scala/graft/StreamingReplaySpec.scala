package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.io.CommitLog
import graft.model.MemoryRecord
import graft.operators.Dedup
import graft.streaming.Streams
import org.apache.spark.sql.functions._

/** Exactly-once under injected crashes. Each case runs a monitor to the
  * end over a commit-log input, then fakes the crash a checkpoint can
  * record: epoch n's writes landed but its `commits/<n>` entry did not,
  * so the restarted query replays epoch n.
  *  - Half-committed epoch: the replay publishes nothing new, every
  *    segment stays byte-identical, the readout still equals the batch
  *    twin, and the temp a killed writer attempt of epoch n left is
  *    swept.
  *  - A crash after k of n per-partition links: one of epoch n's
  *    segments is also missing; the replay re-publishes exactly that
  *    segment with the same records and touches no other.
  * `incrementalAdmit` is the stateless shape of the epoch loop;
  * `sequentialMonitor` also replays the epoch-snapshot step, so its
  * predecessor snapshot must still be there.
  */
class StreamingReplaySpec extends SparkSpec {

  private def tmpDir(prefix: String): String = Files.createTempDirectory(prefix).toString

  /** Delete the checkpoint's last `commits/<n>` entry and its checksum,
    * as a crash between epoch n's writes and its commit leaves them;
    * returns n. */
  private def dropLastCommit(ckpt: String): Long = {
    val commits = Paths.get(ckpt, "commits")
    val n = Files.list(commits).iterator().asScala.map(_.getFileName.toString)
      .filter(_.forall(_.isDigit)).map(_.toLong).max
    Files.delete(commits.resolve(n.toString))
    Files.deleteIfExists(commits.resolve(s".$n.crc"))
    n
  }

  /** Every published segment of a topic: path under the topic → bytes. */
  private def published(topic: String): Map[String, Seq[Byte]] =
    CommitLog.partitionIds(topic).flatMap(CommitLog.segments(topic, _)).map { p =>
      Paths.get(topic).relativize(p).toString -> Files.readAllBytes(p).toSeq
    }.toMap

  private def temps(dir: String): Seq[String] =
    Files.walk(Paths.get(dir)).iterator().asScala
      .map(_.getFileName.toString).filter(_.startsWith(".tmp-")).toSeq

  /** Inject both crashes into a monitor that has run to the end: `run`
    * restarts it on its checkpoint `ckpt`, `topic` is the log it
    * publishes, `out` its whole output directory, and `readout` asserts
    * that what it published equals the batch twin. */
  private def replayBothCrashes(ckpt: String, out: String, topic: String)(
      run: () => Unit)(readout: () => Unit): Unit = {
    readout()
    val before = published(topic)
    def same(after: Map[String, Seq[Byte]], skip: String = ""): Unit = {
      assert(after.keySet == before.keySet, s"segments ${before.keySet} became ${after.keySet}")
      before.keys.filter(_ != skip).foreach { seg =>
        assert(after(seg) == before(seg), s"$seg rewritten by the replay")
      }
    }

    // half-committed epoch: the replay finds every segment published;
    // a killed writer attempt of epoch n also left its temp behind
    val n = dropLastCommit(ckpt)
    Files.write(CommitLog.partitionDir(topic, 0).resolve(s".tmp-e$n-killed.log"),
      "torn".getBytes(UTF_8))
    run()
    same(published(topic))
    readout()
    assert(temps(out).isEmpty, s"temp files left: ${temps(out)}")

    // a crash after k of n links: one of epoch n's segments is missing
    assert(dropLastCommit(ckpt) == n)
    val ofEpoch = before.keys.filter(_.endsWith(f"seg-e$n%012d.log")).toSeq.sorted
    assert(ofEpoch.length > 1, s"epoch $n published $ofEpoch, not several partitions")
    Files.delete(Paths.get(topic, ofEpoch.head))
    run()
    val after = published(topic)
    same(after, skip = ofEpoch.head)
    def records(seg: String, of: Map[String, Seq[Byte]]) =
      new String(of(seg).toArray, UTF_8).split('\n').toSeq.sorted
    assert(records(ofEpoch.head, after) == records(ofEpoch.head, before),
      s"${ofEpoch.head} re-published with other records")
    readout()
    assert(temps(out).isEmpty, s"temp files left: ${temps(out)}")
  }

  test("incrementalAdmit: a replayed epoch re-publishes only the segment a crash left out") {
    import spark.implicits._
    val in = tmpDir("graft_replay_inc_in")
    val out = tmpDir("graft_replay_inc_out")
    val ckpt = tmpDir("graft_replay_inc_ckpt")
    val art = tmpDir("graft_replay_inc_index")

    val docs = sources.Tables.documents(spark, sf).select($"doc_id", $"text")
    val isBatch = col("doc_id") % 5 === 0
    val built = Dedup.buildIndex(docs.filter(!isBatch))
    built.fps.write.parquet(s"$art/fps")
    built.bands.write.parquet(s"$art/bands")
    built.arrs.write.parquet(s"$art/arrs")
    val index = Dedup.DedupIndex(spark.read.parquet(s"$art/fps"),
      spark.read.parquet(s"$art/bands"), spark.read.parquet(s"$art/arrs"))

    val incoming = docs.filter(isBatch).as[(Long, String)].collect().sortBy(_._1)
    incoming.grouped(math.max(incoming.length / 2, 1)).zipWithIndex.foreach {
      case (part, p) =>
        CommitLog.append(in, p, part.map { case (id, text) => (id * 1000L, id.toString, text) })
    }
    def run(): Unit = {
      val stream = spark.readStream.format("commit-log")
        .option("maxRecordsPerTrigger", "20")
        .load(in)
        .select($"key".cast("long").as("doc_id"), $"value".as("text"))
      val q = Streams.incrementalAdmit(stream, index, out, ckpt)
      try q.awaitTermination(180000) finally q.stop()
    }
    run()

    val batchTwin = Dedup.admitAgainstIndex(docs.filter(isBatch), index)
      .select($"doc_id".cast("string"),
        concat_ws("|",
          $"exact_dup".cast("string"),
          coalesce($"near_dup_of".cast("string"), lit("-")),
          coalesce($"jac".cast("string"), lit("-")),
          $"keep".cast("string")))
      .as[(String, String)].collect().sorted.toSeq
    replayBothCrashes(ckpt, out, out)(() => run()) { () =>
      val streamed = spark.read.format("commit-log").load(out)
        .select($"key", $"value").as[(String, String)].collect().sorted.toSeq
      assert(streamed == batchTwin)
    }
  }

  test("sequentialMonitor: a replayed epoch re-reads its predecessor snapshot and re-publishes only the missing segment") {
    import spark.implicits._
    val in = tmpDir("graft_replay_seq_in")
    val out = tmpDir("graft_replay_seq_out")
    val ckpt = tmpDir("graft_replay_seq_ckpt")

    val rows = sources.Tables.events(spark, sf)
      .select($"event_id", $"user_id",
        expr("(unix_micros(ts) - 1704067200000000) DIV 86400000000").as("day"),
        ($"event_type" === "purchase").as("purchase"))
      .as[(Long, Long, Long, Boolean)].collect().sortBy(_._1)
    rows.grouped(math.max(rows.length / 2, 1)).zipWithIndex.foreach { case (part, p) =>
      CommitLog.append(in, p, part.map { case (eid, uid, day, pur) =>
        (eid, eid.toString, s"$uid|$day|$pur")
      })
    }
    def run(): Unit = {
      val stream = spark.readStream.format("commit-log")
        .option("maxRecordsPerTrigger", (rows.length / 4).max(1).toString)
        .load(in)
        .select(split($"value", "\\|").as("f"))
        .select($"f".getItem(0).cast("long").as("user_id"),
          $"f".getItem(1).cast("long").as("day"),
          ($"f".getItem(2) === "true").as("purchase"))
      val q = Streams.sequentialMonitor(stream, out, ckpt)
      try q.awaitTermination(180000) finally q.stop()
    }
    run()

    val batch = SparkEntry.queries("ev_sequential_test")(spark, sf)
      .select($"look".cast("string"),
        concat_ws("|", $"day", $"n_a", $"n_b", $"conv_a", $"conv_b",
          coalesce($"z".cast("string"), lit("-")),
          $"boundary",
          coalesce($"crossed".cast("string"), lit("-"))))
      .as[(String, String)].collect().toMap
    replayBothCrashes(ckpt, out, s"$out/log")(() => run()) { () =>
      val log = spark.read.format("commit-log").load(s"$out/log")
        .select($"ts".cast("long"), $"key", $"value")
        .as[(Long, String, String)].collect()
      assert(log.map(_._1).distinct.length > 1, "expected more than one published epoch")
      val last = log.map(_._1).max
      assert(log.filter(_._1 == last).map(r => r._2 -> r._3).toMap == batch)
      val snaps = new java.io.File(s"$out/snapshot").list().count(_.startsWith("epoch="))
      assert(snaps <= 2, s"expected <= 2 retained snapshots, found $snaps")
    }
  }

  test("recordsToStore: a replayed epoch overwrites its own rows instead of landing twice") {
    import spark.implicits._
    val in = tmpDir("graft_replay_sink_in")
    val dir = tmpDir("graft_replay_sink")
    def run(): Unit = {
      val records = spark.readStream.format("commit-log").load(in)
        .select($"key".as("sessionId"), $"ts", $"value".as("content"))
        .as[MemoryRecord]
      val q = Streams.recordsToStore(records, dir, s"$dir/ckpt")
      try q.processAllAvailable() finally q.stop()
    }
    CommitLog.append(in, 0, (1 to 3).map(i => (i * 1000000L, "s", s"r$i")))
    run()
    CommitLog.append(in, 0, (4 to 5).map(i => (i * 1000000L, "s", s"r$i")))
    run()
    dropLastCommit(s"$dir/ckpt")
    run()
    val stored = spark.read.parquet(s"$dir/records").as[MemoryRecord]
      .collect().map(_.content).sorted.toSeq
    assert(stored == Seq("r1", "r2", "r3", "r4", "r5"))
  }
}
