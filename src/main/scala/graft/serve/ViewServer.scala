package graft.serve

import java.net.InetSocketAddress
import java.net.URLDecoder
import java.nio.charset.StandardCharsets
import java.nio.charset.StandardCharsets.UTF_8

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import graft.io.CommitLog
import org.apache.spark.sql.DataFrame

/** A server-push tail over a commit-log topic: the SSE analog of the
  * reference's `socketio.emit('chat_response', ...)` push channel
  * (app.py:411-448), with the durability the websocket never had —
  * each event carries the topic offsets as its SSE `id`, so a client
  * that reconnects with `Last-Event-ID` resumes exactly where it left
  * off (the commit log replays; the socket room did not).
  *
  * Query params: `key=<k>` filters events to one key (one chat
  * session); `replay=all` starts from offset 0 instead of the tail;
  * `n=<count>` closes the stream after that many events (long-poll
  * semantics for clients that can't hold SSE open). The stream polls
  * the topic every 50 ms and sends a heartbeat comment after 1 s idle. */
final case class SseTail(topicDir: String)

/** Thrown by a route handler when the request itself is malformed; the
  * server answers it with a 400 instead of a 500. */
final class BadRequest(message: String) extends RuntimeException(message)

/** Minimal REST shim over the engine's view DataFrames — the serving
  * seam for the reference's API routes (app.py:126-481: `/api/tasks`,
  * `/api/memory`, `/api/tools`, ...), now including the write side: a
  * POST route maps to a plain body → JSON handler (see
  * [[ChatService]], the `/api/chat` analog of app.py:396-409) — and
  * the push side: an SSE route holds the connection open and streams
  * commit-log records as they land ([[SseTail]], the
  * `socketio.emit` analog of app.py:411-448). A user embedding the
  * engine gets its query surface over HTTP with zero extra
  * dependencies (JDK HttpServer).
  *
  * Each GET route maps to a THUNK returning a DataFrame so every
  * request re-evaluates the view against current store state.
  * Responses are JSON arrays via Spark's own row serializer
  * (`DataFrame.toJSON`). Views served this way must be bounded (they
  * are: registry, task and memory views are per-session aggregates —
  * the same boundedness argument as the reference's in-process dicts);
  * `rowCap` backstops that contract — an unbounded DataFrame
  * accidentally registered as a route serves its first `rowCap` rows
  * instead of collecting the world into the driver.
  */
final class ViewServer(
    routes: Map[String, () => DataFrame],
    postRoutes: Map[String, String => String] = Map.empty,
    sseRoutes: Map[String, SseTail] = Map.empty,
    rowCap: Int = 1000) extends AutoCloseable {

  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
  // held-open SSE streams must not starve other routes: handlers run on
  // a pool, not the dispatch thread
  private val pool = java.util.concurrent.Executors.newCachedThreadPool()
  server.setExecutor(pool)
  @volatile private var closed = false
  private val pollMs = 50L
  private val heartbeatMs = 1000L

  private def respond(ex: HttpExchange, status: Int, body: String): Unit = {
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(status, bytes.length)
    ex.getResponseBody.write(bytes)
    ex.close()
  }

  /** A handler's result as (status, body): 400 for a [[BadRequest]],
    * 500 for any other throw, each with a JSON error. */
  private def guarded(f: => String): (Int, String) =
    try (200, f)
    catch {
      case e: Throwable =>
        val msg = Option(e.getMessage).getOrElse(e.getClass.getName)
        val status = e match { case _: BadRequest => 400; case _ => 500 }
        (status, s"""{"error": "${graft.functions.AgentText.escapeJson(msg)}"}""")
    }

  routes.foreach { case (path, view) =>
    server.createContext(path, (ex: HttpExchange) => {
      val (status, body) =
        guarded(view().limit(rowCap).toJSON.collect().mkString("[", ",", "]"))
      respond(ex, status, body)
    })
  }

  postRoutes.foreach { case (path, handler) =>
    server.createContext(path, (ex: HttpExchange) => {
      if (ex.getRequestMethod != "POST")
        respond(ex, 405, """{"error": "POST only"}""")
      else {
        val req = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
        val (status, body) = guarded(handler(req))
        respond(ex, status, body)
      }
    })
  }

  sseRoutes.foreach { case (path, tail) =>
    server.createContext(path, (ex: HttpExchange) => serveSse(ex, tail))
  }

  private def queryParams(ex: HttpExchange): Map[String, String] =
    Option(ex.getRequestURI.getRawQuery).getOrElse("").split("&")
      .filter(_.contains("="))
      .map { kv =>
        val Array(k, v) = kv.split("=", 2)
        k -> URLDecoder.decode(v, UTF_8)
      }.toMap

  private def jsonOrNull(s: String): String =
    if (s == null) "null"
    else "\"" + graft.functions.AgentText.escapeJson(s) + "\""

  /** One SSE subscription: start at `Last-Event-ID` offsets if the
    * client is resuming, else at the topic tail (or 0 with
    * `replay=all`); poll the log, push each new record as an event
    * whose `id` is the offsets-after-it; heartbeat comments while
    * idle so a dead peer is detected. The cursor is per-partition
    * metadata (the consumer-group contract of a queue). Each poll
    * (every 50 ms) is one pass over the topic: `CommitLog.readRange`
    * reads each partition from its cursor to the end, which still
    * streams every segment from segment 0, so a poll costs O(topic
    * bytes), not O(new records) (ROADMAP direction 4b). The start at
    * the tail counts the topic once through `CommitLog.latestOffsets`.
    * An `n` that is not a non-negative integer, or a `Last-Event-ID`
    * whose partition key is not an integer, gets a 400 with a JSON
    * error. */
  private def serveSse(ex: HttpExchange, tail: SseTail): Unit = {
    val params = queryParams(ex)
    val maxEvents = params.get("n").fold(Option(Int.MaxValue))(_.toIntOption.filter(_ >= 0))
    val resume = Option(ex.getRequestHeaders.getFirst("Last-Event-ID"))
      .map(id => scala.util.Try(CommitLog.offsetsFromJson(id)).toOption)
    // malformed input is answered before the stream opens
    if (maxEvents.isEmpty)
      respond(ex, 400, """{"error": "n must be a non-negative integer"}""")
    else if (resume.exists(_.isEmpty))
      respond(ex, 400, """{"error": "Last-Event-ID partition keys must be integers"}""")
    else
      stream(ex, tail, params.get("key"), maxEvents.get, resume.flatten.getOrElse {
        if (params.get("replay").contains("all")) Map.empty
        else CommitLog.latestOffsets(tail.topicDir)
      })
  }

  private def stream(ex: HttpExchange, tail: SseTail, keyFilter: Option[String],
      maxEvents: Int, start: Map[Int, Long]): Unit = {
    val h = ex.getResponseHeaders
    h.set("Content-Type", "text/event-stream")
    h.set("Cache-Control", "no-cache")
    ex.sendResponseHeaders(200, 0)
    val os = ex.getResponseBody
    val cursor = scala.collection.mutable.Map[Int, Long]() ++ start
    var sent = 0
    var lastBeat = System.nanoTime()
    try {
      while (!closed && sent < maxEvents) {
        var progressed = false
        CommitLog.partitionIds(tail.topicDir).foreach { pid =>
          CommitLog.readRange(tail.topicDir, pid, cursor.getOrElse(pid, 0L), Long.MaxValue)
            .foreach { case (off, ts, k, v) =>
              // stop consuming once the cap is hit: unconsumed offsets
              // stay behind the cursor for the client's next resume
              if (sent < maxEvents) {
                cursor(pid) = off + 1
                if (keyFilter.forall(_ == k)) {
                  val id = CommitLog.offsetsToJson(cursor.toMap)
                  val data =
                    s"""{"ts": $ts, "key": ${jsonOrNull(k)}, "value": ${jsonOrNull(v)}}"""
                  os.write(s"id: $id\ndata: $data\n\n".getBytes(UTF_8))
                  os.flush()
                  sent += 1
                  progressed = true
                }
              }
            }
        }
        if (!progressed && sent < maxEvents) {
          if ((System.nanoTime() - lastBeat) / 1000000L >= heartbeatMs) {
            os.write(": hb\n\n".getBytes(UTF_8)); os.flush()
            lastBeat = System.nanoTime()
          }
          Thread.sleep(pollMs)
        }
      }
    } catch {
      case _: java.io.IOException => ()     // client went away
      case _: InterruptedException => ()    // server shutting down
    } finally ex.close()
  }

  def start(): Int = { server.start(); server.getAddress.getPort }

  override def close(): Unit = {
    closed = true
    server.stop(0)
    pool.shutdownNow()
  }
}
