package perfbench

import java.io.{BufferedReader, InputStreamReader}
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets.UTF_8
import java.sql.Timestamp
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.context.ContextAssembler
import graft.functions.AgentText
import graft.functions.AgentText.{JNum, JObj, JStr}
import graft.io.CommitLog
import graft.memory.MemoryStore
import graft.model.{Message, TaskRow, Tool}
import graft.provider.{Provider, StubProvider}
import graft.serve.{ChatService, SseTail, ViewServer}
import graft.task.TaskStore
import org.apache.spark.sql.SparkSession

/** Closed loop over HTTP: `cpus - 1` clients each drive their own chat
  * session through a scripted conversation (`POST /chat`, then
  * `GET /api/tasks` after every reply) while one more connection tails
  * the push topic over SSE. One episode runs every session's script
  * against a fresh `ChatService` with empty stores; the run repeats
  * whole episodes, so every run sees the same mix of early and late
  * turns. Set-up includes one discarded warm episode. */
object ChatWorkload {

  /** Turns per session in one episode. */
  val TurnsPerSession = 5
  val WarmTurns = 2

  final case class Turn(session: String, taskId: Long, index: Int,
      query: String, reply: String, note: String, ts: Long) {
    /** The turn's request id: its tag, which leads the query text. */
    def tag: String = s"$session-t$index"
  }

  private val vocab = ("agent memory task topic summary record context query plan tool " +
    "dedup corpus shard index vector cluster window stream offset commit").split(' ')

  /** The seeded conversation: one list of turns per session. */
  def script(seed: Long, sessions: Int, turns: Int): Seq[Seq[Turn]] = {
    val rng = new scala.util.Random(seed)
    def words(lo: Int, hi: Int) =
      Seq.fill(lo + rng.nextInt(hi - lo + 1))(vocab(rng.nextInt(vocab.length))).mkString(" ")
    (0 until sessions).map { s =>
      (1 to turns).map { t =>
        val tag = s"s$s-t$t"
        Turn(s"s$s", s + 1L, t, s"$tag ${words(4, 12)}?", s"$tag ${words(6, 18)}.",
          s"$tag note ${words(3, 8)}", 1700000000L + 60L * t + s)
      }
    }
  }

  private def fenced(json: String) = "```json\n" + json + "\n```"

  /** The stub model: every turn's reply carries a memory op, and the
    * post-turn memory analysis proposes a summary, topics and key facts. */
  def provider(turns: Seq[Turn], seed: Long): StubProvider = {
    val analysis = fenced(
      s"""{"summary": "Session ${seed % 1000} covers agent memory and task planning.",
         | "topics": {"memory": "what the agent keeps between turns",
         |            "tasks": "the task log and its views"},
         | "key_facts": ["turns are scripted", "the provider is a stub"]}""".stripMargin)
    new StubProvider(
      ("Analyze the following memory records" -> analysis) +:
        turns.map { t =>
          s"## Query:\n${t.query}" -> fenced(
            s"""{"text": ${Json.str(t.reply)}, "mem_op": {"name": "add_memory_record", """ +
              s""""args": {"memory": ${Json.str(t.note)}}}, "finished": true}""")
        })
  }

  /** Times every call into the model provider. */
  final class TimedProvider(inner: Provider, @transient tracer: Tracer) extends Provider {
    val calls = new AtomicLong
    val nanos = new AtomicLong
    def generateResponse(prompt: String): String = {
      val t0 = System.nanoTime()
      try tracer.span("provider", "")(inner.generateResponse(prompt))
      finally { calls.incrementAndGet(); nanos.addAndGet(System.nanoTime() - t0) }
    }
  }

  private def fields(json: String): Map[String, AgentText.JVal] =
    AgentText.parseJson5ish(json) match {
      case Some(JObj(f)) => f.toMap
      case _ => Map.empty
    }
  private def strField(json: String, k: String): Option[String] =
    fields(json).get(k).collect { case JStr(s) => s }

  /** Everything one episode measured. */
  final class Episode {
    val turnLat = new ConcurrentLinkedQueue[(Int, Double)]() // (turn index, s)
    val viewLat = new ConcurrentLinkedQueue[Double]()
    val pushLat = new ConcurrentLinkedQueue[Double]()
    val sseLag = new ConcurrentLinkedQueue[Double]()
    val lockWait = new ConcurrentLinkedQueue[Double]()
    val handle = new ConcurrentLinkedQueue[Double]()
    val httpTime = new ConcurrentLinkedQueue[Double]()
    val iterations = new ConcurrentLinkedQueue[Double]()
    val attempted = new AtomicInteger
    val failed = new AtomicInteger
    val problems = new ConcurrentLinkedQueue[String]()
    var wall = 0.0
    var probes: Seq[Metric] = Nil
    def fail(msg: String): Unit = { failed.incrementAndGet(); problems.add(msg) }
  }

  private lazy val http: HttpClient =
    HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()

  /** One episode: fresh stores, every session's script, checked. */
  def episode(spark: SparkSession, conv: Seq[Seq[Turn]], seed: Long,
      dir: String, tracer: Tracer, traced: Boolean)(served: () => Unit): Episode = {
    import spark.implicits._
    val ep = new Episode
    val sc = spark.sparkContext
    val all = conv.flatten
    val stub = provider(all, seed)
    val timed = new TimedProvider(stub, tracer)
    val tasks0 = conv.map(_.head).foldLeft(TaskStore.empty(spark)) { (ts, t) =>
      ts.upsertTask(TaskRow(t.taskId, "chat", s"task ${t.session}",
        s"support session ${t.session}", "", "", new Timestamp(t.ts * 1000L)))
    }
    val svc = new ChatService(if (traced) timed else stub,
      ChatService.State(MemoryStore.empty(spark), tasks0, spark.emptyDataset[Message]),
      spark.emptyDataset[Tool], dir)
    val handleTimes = new ConcurrentHashMap[String, java.lang.Long]()
    // traced: take the service monitor first (it is re-entrant), so the
    // wait before the handler starts is the lock wait
    val post: String => String =
      if (!traced) svc.handle
      else body => {
        val tag = strField(body, "query").map(_.takeWhile(_ != ' ')).getOrElse("")
        sc.setLocalProperty(SparkLayers.ReqKey, tag)
        val a = System.nanoTime()
        svc.synchronized {
          val b = System.nanoTime()
          try tracer.span("serve.handle", tag)(svc.handle(body))
          finally {
            val c = System.nanoTime()
            tracer.add("serve.lock_wait", a, b, 0L, tag)
            ep.lockWait.add(Stats.secs(b - a))
            ep.handle.add(Stats.secs(c - b))
            handleTimes.put(tag, c - b)
          }
        }
      }
    val server = new ViewServer(
      routes = Map("/api/tasks" -> (() => {
        if (traced) sc.setLocalProperty(SparkLayers.ReqKey, "view")
        svc.state.tasks.tasksView
      })),
      postRoutes = Map("/chat" -> post),
      sseRoutes = Map("/chat/stream" -> SseTail(dir)))
    val port = server.start()
    val base = s"http://127.0.0.1:$port"
    try {
      // the SSE tail connects (and the server fixes its start offsets)
      // before the first turn is sent
      val sent = new ConcurrentHashMap[String, java.lang.Long]()    // tag -> POST sent
      val replied = new ConcurrentHashMap[String, java.lang.Long]() // tag -> POST reply
      val pushed = new ConcurrentHashMap[(String, String), AtomicInteger]()
      val arrivals = new ConcurrentHashMap[(String, String), java.lang.Long]()
      val sse = http.send(
        HttpRequest.newBuilder(URI.create(s"$base/chat/stream?n=${all.size}")).GET().build(),
        HttpResponse.BodyHandlers.ofInputStream())
      val reader = new Thread(() => {
        val in = new BufferedReader(new InputStreamReader(sse.body(), UTF_8))
        try {
          var line = in.readLine()
          while (line != null) {
            if (line.startsWith("data: ")) {
              val f = fields(line.drop(6))
              val key = f.get("key").collect { case JStr(s) => s }.getOrElse("")
              val value = f.get("value").collect { case JStr(s) => s }.getOrElse("")
              arrivals.putIfAbsent((key, value), System.nanoTime())
              pushed.computeIfAbsent((key, value), _ => new AtomicInteger).incrementAndGet()
            }
            line = in.readLine()
          }
        } catch { case _: java.io.IOException => () }
        finally in.close()
      })
      reader.setDaemon(true)
      reader.start()

      val t0 = System.nanoTime()
      val clients = conv.map { turns =>
        val th = new Thread(() => {
          turns.foreach { t =>
            val body = s"""{"session_id": ${Json.str(t.session)}, "query": ${Json.str(t.query)}, """ +
              s""""task_id": ${t.taskId}, "ts": ${t.ts}}"""
            ep.attempted.incrementAndGet()
            val s0 = System.nanoTime()
            sent.put(t.tag, s0)
            val outcome =
              try {
                val r = tracer.span("chat.turn", t.tag)(http.send(
                  HttpRequest.newBuilder(URI.create(s"$base/chat"))
                    .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
                  HttpResponse.BodyHandlers.ofString()))
                Right(r)
              } catch { case e: Throwable => Left(e.toString) }
            val s1 = System.nanoTime()
            replied.put(t.tag, s1)
            outcome match {
              case Right(r) if r.statusCode == 200 && strField(r.body, "response").contains(t.reply) =>
                ep.turnLat.add((t.index, Stats.secs(s1 - s0)))
                fields(r.body).get("iterations").collect { case JNum(d) => ep.iterations.add(d) }
                Option(handleTimes.get(t.tag)).foreach(h => ep.httpTime.add(Stats.secs(s1 - s0 - h)))
              case Right(r) => ep.fail(s"${t.tag}: POST /chat ${r.statusCode}: ${r.body.take(200)}")
              case Left(e) => ep.fail(s"${t.tag}: POST /chat threw $e")
            }
            ep.attempted.incrementAndGet()
            val v0 = System.nanoTime()
            try {
              val r = tracer.span("view.tasks", "view")(http.send(
                HttpRequest.newBuilder(URI.create(s"$base/api/tasks")).GET().build(),
                HttpResponse.BodyHandlers.ofString()))
              if (r.statusCode == 200 && r.body.contains(s""""taskId":${t.taskId}"""))
                ep.viewLat.add(Stats.secs(System.nanoTime() - v0))
              else ep.fail(s"${t.tag}: GET /api/tasks ${r.statusCode}")
            } catch { case e: Throwable => ep.fail(s"${t.tag}: GET /api/tasks threw $e") }
          }
        })
        th.start()
        th
      }
      clients.foreach(_.join())
      ep.wall = Stats.secs(System.nanoTime() - t0)
      // the checks and probes below are the benchmark's own work
      served()
      reader.join(30000)

      // the push channel delivered each reply exactly once
      all.foreach { t =>
        ep.attempted.incrementAndGet()
        val key = (t.session, t.reply)
        Option(pushed.get(key)).map(_.get).getOrElse(0) match {
          case 1 =>
            val at = arrivals.get(key).longValue
            ep.pushLat.add(Stats.secs(at - sent.get(t.tag)))
            ep.sseLag.add(Stats.secs(at - replied.get(t.tag)))
          case n => ep.fail(s"${t.tag}: pushed $n times, expected once")
        }
      }
      val stray = pushed.keySet.asScala.count(k => !all.exists(t => (t.session, t.reply) == k))
      if (stray > 0) ep.fail(s"$stray pushed events match no turn")

      // final store sizes equal the script's
      val st = svc.state
      ep.attempted.incrementAndGet()
      val records = st.memory.records.count()
      val logs = st.tasks.logs.count()
      if (records != all.size || logs != all.size)
        ep.fail(s"stores hold $records memory records and $logs task logs, script has ${all.size} turns")

      if (traced) {
        sc.setLocalProperty(SparkLayers.ReqKey, "probe")
        val tools = spark.emptyDataset[Tool]
        def time(f: => Any): Double = { val a = System.nanoTime(); f; Stats.secs(System.nanoTime() - a) }
        val assemble = conv.map { ts =>
          val t = ts.last
          time(tracer.span("context.assemble", "probe")(ContextAssembler(st.memory, st.tasks, tools)
            .assemble(t.session, t.query, Some(t.taskId), st.messages, 0L)))
        }
        val update = conv.map { ts =>
          val t = ts.last
          time(tracer.span("memory.update", "probe")(
            st.memory.update(t.session, stub, new Timestamp(t.ts * 1000L))))
        }
        val pids = CommitLog.partitionIds(dir)
        val segments = pids.map(p => CommitLog.segments(dir, p).size).sum
        val latest = (1 to 5).map(_ => time(CommitLog.latestOffsets(dir)))
        val offsets = CommitLog.latestOffsets(dir)
        val readRange = (1 to 5).map(_ => time(pids.foreach(p =>
          CommitLog.readRange(dir, p, 0L, offsets.getOrElse(p, 0L)).foreach(_ => ()))))
        sc.setLocalProperty(SparkLayers.ReqKey, null)
        val n = all.size.toDouble
        ep.probes = Seq(
          Metric("provider.calls", timed.calls.get / n, "count"),
          Metric("provider.s", timed.nanos.get / 1e9 / n, "s"),
          Metric("context.assemble_s", Stats.median(assemble), "s"),
          Metric("memory.update_s", Stats.median(update), "s"),
          Metric("task.logs_rows", logs.toDouble, "count"),
          Metric("memory.records", records.toDouble, "count"),
          Metric("commitlog.segments", segments.toDouble, "count"),
          Metric("commitlog.latest_offsets_s", Stats.median(latest), "s"),
          Metric("commitlog.read_range_s", Stats.median(readRange), "s"))
      }
    } finally server.close()
    ep
  }

  def run(spark: SparkSession, opts: Options): Outcome = {
    val sessions = math.max(1, opts.cpus - 1)
    val conv = script(opts.seed, sessions, TurnsPerSession)
    val tracer = new Tracer(opts.trace)
    val chatDir = s"${opts.work}/chat"
    deleteTree(java.nio.file.Paths.get(chatDir))

    // set-up: a discarded warm episode with its own script and service
    val warm = episode(spark, script(opts.seed ^ 0x5eed, sessions, WarmTurns),
      opts.seed, s"$chatDir/warm", tracer, traced = false)(() => ())
    val problems = mutable.ArrayBuffer[String]() ++ warm.problems.asScala

    val layers = new SparkLayers
    val eps = mutable.ArrayBuffer[(Episode, Boolean)]()
    var gcTracedMs = 0L
    val firstOp = System.currentTimeMillis()
    val tStart = System.nanoTime()
    // a traced run needs an untraced episode to measure its overhead
    val minEpisodes = if (opts.trace) 2 else 1
    var k = 0
    // start an episode only while it is expected to end inside the window
    def more = k < minEpisodes || {
      val typical = if (eps.isEmpty) 0.0 else Stats.median(eps.map(_._1.wall).toSeq)
      Stats.secs(System.nanoTime() - tStart) + typical <= opts.seconds
    }
    while (more) {
      val traced = opts.trace && k % 2 == 0
      tracer.active = traced
      if (traced) layers.attach(spark)
      val gc0 = Jvm.gcMs
      val ep = episode(spark, conv, opts.seed, s"$chatDir/ep$k", tracer, traced) { () =>
        if (traced) {
          layers.detach(spark)
          gcTracedMs += Jvm.gcMs - gc0
        }
      }
      tracer.active = false
      eps += ((ep, traced))
      problems ++= ep.problems.asScala
      k += 1
    }
    val measured = Stats.secs(System.nanoTime() - tStart)
    val attempted = warm.attempted.get + eps.map(_._1.attempted.get).sum
    val failed = warm.failed.get + eps.map(_._1.failed.get).sum

    val untraced = eps.filterNot(_._2).map(_._1).toSeq
    val forE2e = if (untraced.nonEmpty) untraced else eps.map(_._1).toSeq
    val turns = forE2e.flatMap(_.turnLat.asScala)
    val e2e =
      if (turns.isEmpty) Nil
      else Seq(
        Metric("setup_s", (firstOp - opts.t0Ms) / 1e3, "s"),
        Metric("query_geomean_s", Stats.geomean(
          turns.groupBy(_._1).values.map(v => Stats.median(v.map(_._2))).toSeq), "s"))

    val views = forE2e.flatMap(_.viewLat.asScala)
    val pushes = forE2e.flatMap(_.pushLat.asScala)
    val extra = mutable.ArrayBuffer[Metric]()
    extra += Metric("failed_frac", failed.toDouble / math.max(attempted, 1), "ratio")
    if (turns.nonEmpty) extra += Metric("turn_p50_s", Stats.median(turns.map(_._2)), "s")
    if (forE2e.nonEmpty) extra += Metric("pass_s", Stats.median(forE2e.map(_.wall)), "s")
    extra += Metric("turns_per_s", eps.map(_._1.turnLat.size).sum / measured, "1/s")
    Stats.tail(turns.map(_._2)).foreach { case (p, v) => extra += Metric(s"turn_p${p}_s", v, "s") }
    if (views.nonEmpty) extra += Metric("view_p50_s", Stats.median(views), "s")
    if (pushes.nonEmpty) extra += Metric("push_p50_s", Stats.median(pushes), "s")
    turns.groupBy(_._1).toSeq.sortBy(_._1).foreach { case (i, ts) =>
      extra += Metric(s"turn.t${i}_s", Stats.median(ts.map(_._2)), "s") }
    extra += Metric("episodes", eps.size, "count")
    extra += Metric("turns", turns.size, "count")

    val layerMetrics =
      if (!opts.trace) Nil
      else {
        layers.adopt(tracer)
        val tracedEps = eps.filter(_._2).map(_._1).toSeq
        val nTurns = tracedEps.map(_.turnLat.size).sum
        val n = math.max(nTurns, 1).toDouble
        def med(sel: Episode => ConcurrentLinkedQueue[Double]) = {
          val xs = tracedEps.flatMap(e => sel(e).asScala)
          if (xs.isEmpty) Double.NaN else Stats.median(xs)
        }
        val tracedTurns = tracedEps.flatMap(_.turnLat.asScala.map(_._2))
        val plainTurns = eps.filterNot(_._2).flatMap(_._1.turnLat.asScala.map(_._2)).toSeq
        if (tracedTurns.nonEmpty && plainTurns.nonEmpty)
          extra += Metric("trace.turn_p50_overhead_s",
            Stats.median(tracedTurns) - Stats.median(plainTurns), "s")
        extra ++= Seq(
          Metric("serve.handle_s", med(_.handle), "s"),
          Metric("serve.lock_wait_s", med(_.lockWait), "s"),
          Metric("serve.http_s", med(_.httpTime), "s"),
          Metric("agent.iterations", med(_.iterations), "count"),
          Metric("sse.lag_s", med(_.sseLag), "s"))
        // probe figures: mean over the traced episodes
        extra ++= tracedEps.flatMap(_.probes).groupBy(_.name).toSeq
          .sortBy(_._1).map { case (name, ms) => Metric(name, ms.map(_.value).sum / ms.size, ms.head.unit) }
        val tracedWalls = tracedEps.map(_.wall)
        val overhead =
          if (tracedWalls.isEmpty || untraced.isEmpty) Double.NaN
          else (Stats.median(tracedWalls) - Stats.median(untraced.map(_.wall))) / conv.flatten.size
        layers.perOp(nTurns) ++ Seq(
          Metric("jvm.gc_s", gcTracedMs / 1e3 / n, "s"),
          Metric("jvm.heap_live_mb", Jvm.liveHeapMb, "MB"),
          Metric("trace.overhead_s", overhead, "s"))
      }
    if (opts.trace) tracer.write(opts.spanFile, layerMetrics ++ extra)
    Outcome(failed == 0 && e2e.nonEmpty, attempted, failed, e2e, layerMetrics,
      extra.toSeq, problems.toSeq)
  }

  private def deleteTree(p: java.nio.file.Path): Unit =
    if (java.nio.file.Files.exists(p))
      java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.delete)
}
