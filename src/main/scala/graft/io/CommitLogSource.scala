package graft.io

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{FileAlreadyExistsException, Files, Path, Paths}
import java.util

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import graft.functions.AgentText
import graft.functions.AgentText.{JNum, JObj}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownFilters, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadAllAvailable, ReadLimit, ReadMaxRows, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.connector.write.{DataWriter, LogicalWriteInfo, PhysicalWriteInfo, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** A message-queue-shaped DataSource V2: an append-only, partitioned
  * commit log over files, readable as a batch table or a Structured
  * Streaming micro-batch source, and writable as an exactly-once
  * streaming sink.
  *
  * The driver's BASELINE.json frames the target category as
  * "message-queue … Structured Streaming + source/sink"; the reference
  * itself has no queue (SURVEY.md §0), so this source supplies the
  * queue-shaped transport the engine would use to ingest the reference's
  * append-only logs (D1 messages, D2 memory records, D7 task logs) at
  * cluster scale — the same topic/partition/offset contract as
  * Kafka/Pulsar connectors, self-contained over a shared filesystem.
  *
  * Layout: `<topic-dir>/p<N>/seg-<...>.log`, one directory per log
  * partition, append-only segment files, one record per line
  * (`tsMicros \t base64(key) \t base64(value)`). A record's offset is
  * its 0-based position in the concatenation of that partition's
  * segments in lexicographic filename order — segment names are chosen
  * so that order is append order.
  *
  * Scale notes (the parts that must survive a real cluster):
  *  - offsets are per-partition, so progress tracking is O(partitions)
  *    driver-side metadata, never data;
  *  - micro-batch planning assigns one InputPartition per log partition
  *    and range — readers stream lines, they never materialize a
  *    segment;
  *  - the streaming sink writes segments from EXECUTORS (one unique
  *    temp file per epoch × writer × log partition, staged in the
  *    partition directory), and the driver commit is a metadata-only
  *    hard link that never replaces a segment; a replayed epoch finds
  *    its destination taken, so a re-run batch is a no-op — the
  *    standard idempotent-file-sink contract that makes end-to-end
  *    delivery exactly-once. Temp names carry the epoch, and the
  *    driver sweeps an epoch's leftover temps once it has published;
  *  - admission control (`maxRecordsPerTrigger`) bounds each
  *    micro-batch for backfills, exactly like the Kafka source's
  *    `maxOffsetsPerTrigger`.
  */
class CommitLogSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "commit-log"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    CommitLog.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new CommitLogTable(properties.getOrDefault("path", ""),
      Option(properties.get("partitions")).map(_.toInt).getOrElse(4))
}

object CommitLog {
  /** partition: log partition id; offset: position within it. */
  val schema: StructType = StructType(Seq(
    StructField("partition", IntegerType, nullable = false),
    StructField("offset", LongType, nullable = false),
    StructField("ts", TimestampType, nullable = false),
    StructField("key", StringType),
    StructField("value", StringType)))

  private val b64e = java.util.Base64.getEncoder
  private val b64d = java.util.Base64.getDecoder

  /** One record per line; base64 makes keys/values newline/tab-safe. */
  def encodeLine(tsMicros: Long, key: String, value: String): String = {
    def enc(s: String) = if (s == null) "-" else b64e.encodeToString(s.getBytes(UTF_8))
    s"$tsMicros\t${enc(key)}\t${enc(value)}"
  }

  def decodeLine(line: String): (Long, String, String) = {
    val parts = line.split('\t')
    def dec(s: String) = if (s == "-") null else new String(b64d.decode(s), UTF_8)
    (parts(0).toLong, dec(parts(1)), dec(parts(2)))
  }

  def partitionDir(dir: String, pid: Int): Path = Paths.get(dir, s"p$pid")

  /** The log partition of `key` among `n`: the hash-by-key contract
    * that keeps one key's records totally ordered. A null key goes to
    * partition 0. */
  def partitionOf(key: String, n: Int): Int =
    math.floorMod(if (key == null) 0 else key.hashCode, n)

  /** Segment files of one partition in offset order. */
  def segments(dir: String, pid: Int): Seq[Path] = {
    val d = partitionDir(dir, pid)
    if (!Files.isDirectory(d)) Seq.empty
    else Files.list(d).iterator().asScala
      .filter(p => p.getFileName.toString.startsWith("seg-"))
      .toSeq.sortBy(_.getFileName.toString)
  }

  def partitionIds(dir: String): Seq[Int] = {
    val d = Paths.get(dir)
    if (!Files.isDirectory(d)) Seq.empty
    else Files.list(d).iterator().asScala
      .map(_.getFileName.toString)
      .collect { case s if s.startsWith("p") && s.drop(1).forall(_.isDigit) => s.drop(1).toInt }
      .toSeq.sorted
  }

  /** Record counts per partition — the "latest offsets" of the topic.
    * O(bytes of segment files) on the driver; a production deployment
    * would keep a footer/index per segment, but the contract (offsets
    * are metadata, not data) is the same. */
  def latestOffsets(dir: String): Map[Int, Long] =
    partitionIds(dir).map { pid =>
      pid -> segments(dir, pid).map(p => countLines(p)).sum
    }.toMap

  private def countLines(p: Path): Long = {
    val in = Files.newBufferedReader(p, UTF_8)
    try { var n = 0L; while (in.readLine() != null) n += 1; n }
    finally in.close()
  }

  /** Append records to one partition as a new segment. This is the
    * push path of [[graft.serve.ChatService]] (one segment per chat
    * turn) as well as a test helper; the streaming sink below writes its
    * own per-epoch segments. The segment takes the next free `seg-a…`
    * id through [[publish]], so concurrent appenders to one partition
    * each get their own segment. */
  def append(dir: String, pid: Int, rows: Seq[(Long, String, String)]): Unit = {
    val d = partitionDir(dir, pid)
    val text = rows.map { case (ts, k, v) => encodeLine(ts, k, v) }
      .mkString("", "\n", if (rows.isEmpty) "" else "\n")
    publish(writeTemp(d, text.getBytes(UTF_8)),
      Iterator.from(segments(dir, pid).size).map(i => d.resolve(f"seg-a$i%09d.log")))
  }

  /** Write `bytes` to a new `<prefix>*` temp file in directory `d`
    * (created if missing); [[segments]] never lists it, and no other
    * writer opens it. */
  private[io] def writeTemp(d: Path, bytes: Array[Byte], prefix: String = ".tmp-"): Path = {
    Files.createDirectories(d)
    Files.write(Files.createTempFile(d, prefix, ".log"), bytes)
  }

  /** The temp-file prefix of epoch `epochId`'s segment writers. */
  private[io] def epochTemp(epochId: Long): String = s".tmp-e$epochId-"

  /** Delete every temp file that epoch `epochId`'s writers left in the
    * partition directories of `dir`; called once the epoch has
    * published. A killed writer attempt, or a driver that died between
    * link and delete, leaves one behind, and no attempt of a published
    * epoch publishes again. One query writes a topic, as the
    * epoch-keyed segment names already imply. */
  private[io] def sweepTemps(dir: String, epochId: Long): Unit =
    partitionIds(dir).foreach { pid =>
      val temps = Files.newDirectoryStream(partitionDir(dir, pid), s"${epochTemp(epochId)}*")
      try temps.forEach(t => Files.deleteIfExists(t)) finally temps.close()
    }

  /** Publish the finished file `tmp` as the first of `names` that is not
    * taken yet, then delete `tmp`; every segment write goes through
    * here. The name is taken with a hard link, which fails on an
    * existing file: a reader sees a segment whole or not at all, and a
    * published segment is never replaced. (A rename would not do: on
    * Linux `ATOMIC_MOVE` is `rename(2)`, which silently replaces its
    * target.) `tmp` must be on the names' filesystem. If every name is
    * taken, nothing is published. */
  private[io] def publish(tmp: Path, names: Iterator[Path]): Unit =
    try names.find { dst =>
      try { Files.createLink(dst, tmp); true }
      catch { case _: FileAlreadyExistsException => false }
    }.foreach { seg =>
      // <topic>/p<N>/seg-*: wake the topic's in-process tails, if any
      Option(signals.get(topicKey(seg.getParent.getParent))).foreach(_.bump())
    }
    finally Files.deleteIfExists(tmp)

  /** Counts the segments published into one topic directory by this
    * JVM, so that an in-process tail can wait for the next one instead
    * of sleeping a fixed interval. A tail reads [[generation]] before it
    * reads the log and, when it found nothing, waits with
    * [[awaitAfter]]: a segment published after that read has moved the
    * count, so the wakeup is never lost. Writers in other processes do
    * not signal; a tail still sees them when its wait times out. */
  final class AppendSignal {
    private var gen = 0L
    def generation: Long = synchronized(gen)
    private[io] def bump(): Unit = synchronized { gen += 1; notifyAll() }
    /** Wait until the count differs from `seen` or `ms` have passed. */
    def awaitAfter(seen: Long, ms: Long): Unit = synchronized {
      val deadline = System.nanoTime() + ms * 1000000L
      var left = ms
      while (gen == seen && left > 0) {
        wait(left)
        left = (deadline - System.nanoTime()) / 1000000L
      }
    }
  }

  // one entry per topic a tail has opened in this JVM, kept for the
  // JVM's life; a publish to an untailed topic signals nothing
  private val signals = new java.util.concurrent.ConcurrentHashMap[Path, AppendSignal]()
  private def topicKey(dir: Path): Path = dir.toAbsolutePath.normalize

  /** The JVM-wide [[AppendSignal]] of the topic at `dir`. */
  def appendSignal(dir: String): AppendSignal =
    signals.computeIfAbsent(topicKey(Paths.get(dir)), _ => new AppendSignal)

  /** Idempotent epoch write for `foreachBatch` sinks: hash-partition
    * the rows by key across `nPartitions` log partitions and write ONE
    * segment per (epoch, log partition) FROM THE EXECUTORS — temp file
    * then [[publish]], exactly like the streaming sink's commit. The
    * segment name embeds the epoch id, which Structured Streaming
    * keeps stable across batch replays, so a restarted query re-running
    * a committed epoch finds the destination already present and skips
    * it — end-to-end exactly-once without a driver collect.
    *
    * `rows` must have `key`/`value` string columns; `ts` (long micros)
    * is optional and defaults to 0. */
  def writeEpoch(dir: String, nPartitions: Int, epochId: Long,
      rows: org.apache.spark.sql.DataFrame): Unit = {
    import org.apache.spark.sql.functions.{col, lit}
    import org.apache.spark.sql.Row
    val withTs =
      if (rows.columns.contains("ts")) rows else rows.withColumn("ts", lit(0L))
    withTs
      .select(col("ts").cast("long"), col("key").cast("string"),
        col("value").cast("string"))
      .repartition(nPartitions, col("key"))
      .foreachPartition { (it: Iterator[Row]) =>
        val pid = org.apache.spark.TaskContext.getPartitionId()
        val text = it.map { r =>
          encodeLine(r.getLong(0), r.getString(1), r.getString(2))
        }.mkString("", "\n", "\n")
        if (text != "\n") {
          val dst = partitionDir(dir, pid).resolve(f"seg-e$epochId%012d.log")
          // a replay or a concurrent attempt (task retry) that committed
          // first keeps its file
          publish(writeTemp(dst.getParent, text.getBytes(UTF_8), epochTemp(epochId)),
            Iterator.single(dst))
        }
        ()
      }
    sweepTemps(dir, epochId)
  }

  /** Iterate one partition's records in `[from, until)` offset range,
    * streaming each segment and closing it when exhausted. A line in
    * the range that does not decode (a torn or damaged record) fails the
    * read with an `IOException` that names its segment and offset:
    * skipping it would silently renumber every later offset. */
  def readRange(dir: String, pid: Int, from: Long, until: Long): Iterator[(Long, Long, String, String)] = {
    val segs = segments(dir, pid)
    var off = -1L
    var cur: Path = null // the segment the last line pulled came from
    segs.iterator.flatMap { seg =>
      cur = seg
      new Iterator[String] {
        private val reader = Files.newBufferedReader(seg, UTF_8)
        private var nextLine = advance()
        private def advance(): String = {
          val l = reader.readLine()
          if (l == null) reader.close()
          l
        }
        override def hasNext: Boolean = nextLine != null
        override def next(): String = { val l = nextLine; nextLine = advance(); l }
      }
    }.map { line => off += 1; (off, line) }
      .filter { case (o, _) => o >= from && o < until }
      .map { case (o, line) =>
        val (ts, k, v) =
          try decodeLine(line)
          catch { case NonFatal(e) => throw new java.io.IOException(
            s"commit log: undecodable record at offset $o of partition $pid, in segment $cur", e) }
        (o, ts, k, v)
      }
  }

  def offsetsToJson(offsets: Map[Int, Long]): String =
    offsets.toSeq.sortBy(_._1)
      .map { case (p, o) => s""""$p":$o""" }.mkString("{", ",", "}")

  def offsetsFromJson(json: String): Map[Int, Long] =
    AgentText.parseJson5ish(json) match {
      case Some(JObj(fields)) => fields.collect {
        case (k, JNum(v)) => k.toInt -> v.toLong
      }.toMap
      case _ => Map.empty
    }
}

final case class CommitLogOffset(counts: Map[Int, Long]) extends Offset {
  override def json(): String = CommitLog.offsetsToJson(counts)
}

final class CommitLogTable(path: String, numPartitions: Int)
    extends Table with SupportsRead with SupportsWrite {
  override def name(): String = s"commit-log($path)"
  override def schema(): StructType = CommitLog.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ,
      TableCapability.STREAMING_WRITE, TableCapability.ACCEPT_ANY_SCHEMA)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    val dir = if (path.nonEmpty) path else options.get("path")
    val maxPerTrigger = Option(options.get("maxRecordsPerTrigger")).map(_.toLong)
    new CommitLogScan(dir, maxPerTrigger)
  }
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    val dir = if (path.nonEmpty) path else info.options.get("path")
    new CommitLogWriteBuilder(dir, numPartitions, info.schema())
  }
}

/** Batch scan (full log) + micro-batch stream over the same layout.
  * Supports column pruning (a projection that drops `value` never
  * materializes payload strings) and partition-predicate pushdown
  * (`WHERE partition = 3` reads one directory — the queue analogue of
  * parquet partition pruning). */
final class CommitLogScan(dir: String, maxPerTrigger: Option[Long])
    extends ScanBuilder with Scan with Batch
    with SupportsPushDownRequiredColumns with SupportsPushDownFilters
    with org.apache.spark.sql.connector.read.SupportsReportStatistics {

  /** Segment bytes of the partitions that survive pruning — lets the
    * planner (AQE, join-side selection) treat a small topic as
    * broadcastable instead of assuming unknown size. */
  override def estimateStatistics(): org.apache.spark.sql.connector.read.Statistics =
    new org.apache.spark.sql.connector.read.Statistics {
      override def sizeInBytes(): java.util.OptionalLong = {
        val bytes = CommitLog.partitionIds(dir).filter(keepPid).map { pid =>
          CommitLog.segments(dir, pid).map(p => java.nio.file.Files.size(p)).sum
        }.sum
        java.util.OptionalLong.of(bytes)
      }
      override def numRows(): java.util.OptionalLong = java.util.OptionalLong.empty()
    }

  private var required: StructType = CommitLog.schema
  private var partitionFilter: Option[Set[Int]] = None
  private var pushed: Array[org.apache.spark.sql.sources.Filter] = Array.empty

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def pushFilters(
      filters: Array[org.apache.spark.sql.sources.Filter]): Array[org.apache.spark.sql.sources.Filter] = {
    import org.apache.spark.sql.sources.{EqualTo, In}
    val (accepted, rest) = filters.partition {
      case EqualTo("partition", _: Int) => true
      case In("partition", vs) => vs.forall(_.isInstanceOf[Int])
      case _ => false
    }
    val keep = accepted.flatMap {
      case EqualTo("partition", v: Int) => Seq(v)
      case In("partition", vs) => vs.toSeq.map(_.asInstanceOf[Int])
      case _ => Seq.empty
    }.toSet
    if (accepted.nonEmpty) partitionFilter = Some(keep)
    pushed = accepted
    rest // non-partition predicates stay with Spark
  }

  override def pushedFilters(): Array[org.apache.spark.sql.sources.Filter] = pushed

  private def keepPid(pid: Int): Boolean = partitionFilter.forall(_.contains(pid))

  override def build(): Scan = this
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def planInputPartitions(): Array[InputPartition] = {
    val latest = CommitLog.latestOffsets(dir)
    latest.toSeq.sortBy(_._1).collect {
      case (pid, n) if keepPid(pid) =>
        CommitLogInputPartition(dir, pid, 0L, n): InputPartition
    }.toArray
  }
  override def createReaderFactory(): PartitionReaderFactory =
    new CommitLogReaderFactory(required.fieldNames)
  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new CommitLogMicroBatchStream(dir, maxPerTrigger)
}

final class CommitLogMicroBatchStream(dir: String, maxPerTrigger: Option[Long])
    extends MicroBatchStream with SupportsAdmissionControl
    with SupportsTriggerAvailableNow {

  /** Under Trigger.AvailableNow the end of the log is pinned at query
    * start; rate-limited batches drain up to it and the query stops. */
  @volatile private var availableNowBound: Option[Map[Int, Long]] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowBound = Some(CommitLog.latestOffsets(dir))

  private def currentAvailable(): Map[Int, Long] =
    availableNowBound.getOrElse(CommitLog.latestOffsets(dir))

  override def initialOffset(): Offset = CommitLogOffset(Map.empty)

  override def getDefaultReadLimit: ReadLimit =
    maxPerTrigger.map(n => ReadLimit.maxRows(n)).getOrElse(ReadLimit.allAvailable())

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "latestOffset(Offset, ReadLimit) should be called instead of this method")

  /** Admission control: advance each partition round-robin until the
    * per-trigger record budget is spent — bounded micro-batches for
    * backfills, like the Kafka source's maxOffsetsPerTrigger. */
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val begin = start.asInstanceOf[CommitLogOffset].counts
    val avail = currentAvailable()
    limit match {
      case _: ReadAllAvailable => CommitLogOffset(avail)
      case r: ReadMaxRows =>
        var budget = r.maxRows()
        val out = scala.collection.mutable.Map[Int, Long]() ++ avail.map {
          case (p, _) => p -> begin.getOrElse(p, 0L)
        }
        // spread the budget across partitions fairly (chunked round-robin)
        var progressed = true
        while (budget > 0 && progressed) {
          progressed = false
          avail.toSeq.sortBy(_._1).foreach { case (p, max) =>
            val cur = out(p)
            if (cur < max && budget > 0) {
              val step = math.min(math.max(r.maxRows() / math.max(avail.size, 1), 1L),
                math.min(max - cur, budget))
              out(p) = cur + step
              budget -= step
              progressed = true
            }
          }
        }
        CommitLogOffset(out.toMap)
      case _ => CommitLogOffset(avail)
    }
  }

  override def reportLatestOffset(): Offset =
    CommitLogOffset(CommitLog.latestOffsets(dir))

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val from = start.asInstanceOf[CommitLogOffset].counts
    val until = end.asInstanceOf[CommitLogOffset].counts
    until.toSeq.sortBy(_._1).flatMap { case (pid, hi) =>
      val lo = from.getOrElse(pid, 0L)
      if (hi > lo) Some(CommitLogInputPartition(dir, pid, lo, hi): InputPartition)
      else None
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new CommitLogReaderFactory(CommitLog.schema.fieldNames)
  override def deserializeOffset(json: String): Offset =
    CommitLogOffset(CommitLog.offsetsFromJson(json))
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

final case class CommitLogInputPartition(dir: String, pid: Int, from: Long, until: Long)
    extends InputPartition

final class CommitLogReaderFactory(fields: Array[String]) extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[CommitLogInputPartition]
    val it = CommitLog.readRange(p.dir, p.pid, p.from, p.until)
    new PartitionReader[InternalRow] {
      private var current: InternalRow = _
      override def next(): Boolean =
        if (it.hasNext) {
          val (off, ts, k, v) = it.next()
          current = InternalRow.fromSeq(fields.toSeq.map {
            case "partition" => p.pid
            case "offset" => off
            case "ts" => ts
            case "key" => if (k == null) null else UTF8String.fromString(k)
            case "value" => if (v == null) null else UTF8String.fromString(v)
          })
          true
        } else false
      override def get(): InternalRow = current
      override def close(): Unit = ()
    }
  }
}

// ---------------------------------------------------------------------------
// Exactly-once streaming sink
// ---------------------------------------------------------------------------

/** Input columns are resolved BY NAME from the incoming query schema
  * (the table declares ACCEPT_ANY_SCHEMA): `key`/`value` strings are
  * required, `ts` timestamp and `partition` int are optional —
  * partition defaults to `hash(key) mod numPartitions`, the queue
  * contract that keeps a key's records totally ordered.
  *
  * Update-mode output is accepted as append (the Kafka-sink contract:
  * a queue records every emission; upsert-by-key is the READER's
  * compaction concern), via [[SupportsStreamingUpdateAsAppend]]. */
final class CommitLogWriteBuilder(dir: String, numPartitions: Int, input: StructType)
    extends WriteBuilder
    with org.apache.spark.sql.internal.connector.SupportsStreamingUpdateAsAppend {
  override def build(): Write = new Write {
    override def toStreaming: StreamingWrite =
      new CommitLogStreamingWrite(dir, numPartitions, input)
  }
}

final class CommitLogStreamingWrite(dir: String, numPartitions: Int, input: StructType)
    extends StreamingWrite {

  override def createStreamingWriterFactory(info: PhysicalWriteInfo): StreamingDataWriterFactory =
    new CommitLogWriterFactory(dir, numPartitions, input)

  /** Metadata-only commit: publish each staged temp file as its
    * destination segment ([[CommitLog.publish]]). A destination that
    * already exists means this epoch was committed before (query
    * restart re-ran the batch) — it is kept and the temp dropped, making
    * replay idempotent and delivery exactly-once. Then every temp the
    * epoch's other attempts staged is swept ([[CommitLog.sweepTemps]]). */
  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    messages.foreach {
      case CommitLogCommit(files) => files.foreach { case (dst, tmp) =>
        CommitLog.publish(Paths.get(tmp), Iterator.single(Paths.get(dst)))
      }
      case _ => ()
    }
    CommitLog.sweepTemps(dir, epochId)
  }

  /** Nothing of an aborted epoch is published: drop all of its temps. */
  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit =
    CommitLog.sweepTemps(dir, epochId)
}

/** One writer's staged segments as (destination, temp file) paths. */
final case class CommitLogCommit(files: Seq[(String, String)]) extends WriterCommitMessage

final class CommitLogWriterFactory(dir: String, numPartitions: Int, input: StructType)
    extends StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long, epochId: Long): DataWriter[InternalRow] =
    new CommitLogDataWriter(dir, numPartitions, input, partitionId, epochId)
}

/** Executor-side writer: buffers lines per log partition, stages one
  * temp segment per (epoch, writer, log-partition) through
  * [[CommitLog.writeTemp]] — a fresh `.tmp-e<epoch>-*` file every
  * attempt, so a retry never reopens a temp an earlier attempt may
  * already have linked as a segment. Destination names embed
  * `(epochId, writerPartitionId)` — both stable across batch replays —
  * so a re-run targets the same destinations and the driver commit can
  * detect them. */
final class CommitLogDataWriter(
    dir: String, numPartitions: Int, input: StructType,
    writerPartitionId: Int, epochId: Long)
    extends DataWriter[InternalRow] {

  private val tsIdx = input.fieldNames.indexOf("ts")
  private val keyIdx = input.fieldNames.indexOf("key")
  private val valueIdx = input.fieldNames.indexOf("value")
  private val partIdx = input.fieldNames.indexOf("partition")
  require(valueIdx >= 0, s"commit-log sink needs a 'value' column; got $input")

  private val buffers = scala.collection.mutable.Map[Int, StringBuilder]()

  override def write(row: InternalRow): Unit = {
    val key = if (keyIdx >= 0 && !row.isNullAt(keyIdx)) row.getUTF8String(keyIdx).toString else null
    val value = if (row.isNullAt(valueIdx)) null else row.getUTF8String(valueIdx).toString
    val ts = if (tsIdx >= 0 && !row.isNullAt(tsIdx)) row.getLong(tsIdx) else 0L
    val pid =
      if (partIdx >= 0 && !row.isNullAt(partIdx)) row.getInt(partIdx)
      else CommitLog.partitionOf(key, numPartitions)
    buffers.getOrElseUpdate(pid, new StringBuilder)
      .append(CommitLog.encodeLine(ts, key, value)).append('\n')
  }

  override def commit(): WriterCommitMessage =
    CommitLogCommit(buffers.toSeq.sortBy(_._1).map { case (pid, buf) =>
      val d = CommitLog.partitionDir(dir, pid)
      val dst = d.resolve(f"seg-e$epochId%012d-w$writerPartitionId%05d-p$pid%d.log")
      (dst.toString,
        CommitLog.writeTemp(d, buf.toString.getBytes(UTF_8), CommitLog.epochTemp(epochId)).toString)
    })

  override def abort(): Unit = ()
  override def close(): Unit = ()
}
