package graft

import java.nio.charset.StandardCharsets

import com.sun.net.httpserver.HttpExchange
import graft.provider.{LlmMap, MessagesBlockProvider, OpenCompatProvider, OllamaStyleProvider, TextGetProvider}

/** The concrete HTTP provider adapters against an in-process JDK
  * HttpServer: request shapes, response-field extraction (content /
  * reasoning_content fallback), non-200 handling, and the full
  * mapPartitions dataflow ([[LlmMap.completePrompts]]) hitting a live
  * endpoint from executor threads.
  */
class HttpProvidersSpec extends SparkSpec {

  private def withServer(routes: Map[String, HttpExchange => (Int, String)])(f: String => Unit): Unit = {
    // the server's own factory: the first HttpServer of the JVM fixes
    // TCP_NODELAY for every later one (ViewServer.httpServer)
    val server = graft.serve.ViewServer.httpServer()
    routes.foreach { case (path, handler) =>
      server.createContext(path, (ex: HttpExchange) => {
        val (status, body) = handler(ex)
        val bytes = body.getBytes(StandardCharsets.UTF_8)
        ex.sendResponseHeaders(status, bytes.length)
        ex.getResponseBody.write(bytes)
        ex.close()
      })
    }
    server.start()
    try f(s"http://127.0.0.1:${server.getAddress.getPort}")
    finally server.stop(0)
  }

  private def readBody(ex: HttpExchange): String =
    new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)

  test("OpenCompatProvider posts the chat payload and reads choices[0].message.content") {
    var seenAuth: String = null
    var seenBody: String = null
    withServer(Map("/v1/chat/completions" -> { ex =>
      seenAuth = ex.getRequestHeaders.getFirst("Authorization")
      seenBody = readBody(ex)
      (200, """{"choices": [{"message": {"content": "hello from server"}}]}""")
    })) { base =>
      val p = new OpenCompatProvider(s"$base/v1/", "test-model", "sk-123")
      assert(p.generateResponse("hi there") == "hello from server")
      assert(seenAuth == "Bearer sk-123")
      assert(seenBody.contains(""""model": "test-model""""))
      assert(seenBody.contains(""""content": "hi there""""))
      assert(seenBody.contains(""""stream": false"""))
    }
  }

  test("OpenCompatProvider falls back to reasoning_content, and to empty on non-200") {
    withServer(Map("/v1/chat/completions" -> { ex =>
      readBody(ex)
      (200, """{"choices": [{"message": {"reasoning_content": "thought"}}]}""")
    })) { base =>
      assert(new OpenCompatProvider(s"$base/v1/", "m", "k").generateResponse("p") == "thought")
    }
    withServer(Map("/v1/chat/completions" -> { ex =>
      readBody(ex); (400, """{"error": "bad model"}""")
    })) { base =>
      assert(new OpenCompatProvider(s"$base/v1/", "m", "k").generateResponse("p") == "")
    }
  }

  test("OllamaStyleProvider posts to api/generate and reads the response field") {
    withServer(Map("/api/generate" -> { ex =>
      val b = readBody(ex)
      assert(b.contains(""""prompt": "question""""))
      (200, """{"model": "m", "response": "generated text", "done": true}""")
    })) { base =>
      assert(new OllamaStyleProvider(base, "m").generateResponse("question") == "generated text")
    }
  }

  test("MessagesBlockProvider: top-level system, x-api-key auth, text-block reply") {
    var seenKey: String = null
    var seenVersion: String = null
    var seenBody: String = null
    withServer(Map("/v1/messages" -> { ex =>
      seenKey = ex.getRequestHeaders.getFirst("x-api-key")
      seenVersion = ex.getRequestHeaders.getFirst("anthropic-version")
      seenBody = readBody(ex)
      (200, """{"content": [{"type": "text", "text": "part one; "},
                            {"type": "tool_use", "id": "t1"},
                            {"type": "text", "text": "part two"}]}""")
    })) { base =>
      val p = new MessagesBlockProvider(base, "test-model", "key-9", system = "be terse")
      assert(p.generateResponse("question?") == "part one; part two")
      assert(seenKey == "key-9" && seenVersion == "2023-06-01")
      // system is a TOP-LEVEL field, not a message role
      assert(seenBody.contains(""""system": "be terse""""))
      assert(!seenBody.contains(""""role": "system""""))
      assert(seenBody.contains(""""max_tokens": 1024"""))
      assert(seenBody.contains(""""content": "question?""""))
    }
    withServer(Map("/v1/messages" -> { ex =>
      readBody(ex); (429, """{"error": "rate"}""")
    })) { base =>
      assert(new MessagesBlockProvider(base, "m", "k").generateResponse("p") == "")
    }
  }

  test("TextGetProvider GETs the url-encoded prompt exactly once") {
    withServer(Map("/" -> { ex =>
      // getPath decodes one layer: a single-encoded "a%20b" arrives as
      // "a b" here; a double-encoded request would show "a%20b".
      (200, s"echo:${ex.getRequestURI.getPath}")
    })) { base =>
      assert(new TextGetProvider(base).generateResponse("a b") == "echo:/a b")
    }
  }

  test("transport failures yield empty string, not an exception") {
    // nothing listens on this port; connection refused must map to ""
    val p = new OpenCompatProvider("http://127.0.0.1:9/v1/", "m", "k", timeoutSeconds = 2)
    assert(p.generateResponse("x") == "")
  }

  test("completePrompts drives a live endpoint from executor threads") {
    import spark.implicits._
    withServer(Map("/v1/chat/completions" -> { ex =>
      val body = readBody(ex)
      // echo the prompt back inside the OpenAI reply shape
      val prompt = """"content": "([^"]*)"""".r
        .findFirstMatchIn(body).map(_.group(1)).getOrElse("?")
      (200, s"""{"choices": [{"message": {"content": "done:$prompt"}}]}""")
    })) { base =>
      val prompts = (1L to 8L).map(i => LlmMap.PromptRow(i, s"task$i")).toDS().repartition(4)
      val out = LlmMap.completePrompts(prompts,
          () => new OpenCompatProvider(s"$base/v1/", "m", "k"), batchSize = 2)
        .collect().map(r => r.id -> r.completion).toMap
      assert(out.size == 8)
      (1L to 8L).foreach(i => assert(out(i) == s"done:task$i"))
    }
  }
}
