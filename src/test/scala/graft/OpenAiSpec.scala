package graft

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import com.sun.net.httpserver.{HttpExchange, HttpServer}
import graft.chat.{OpenAiChatClient, Sse}
import org.scalatest.funsuite.AnyFunSuite

/** L4/L5 specs: the SSE decoder as a pure function, and the
  * OpenAI-compatible HTTP client end-to-end against a local
  * com.sun.net.httpserver stub (offline: loopback only). */
class OpenAiSpec extends AnyFunSuite {

  // ---------------------------------------------------------------
  // Sse.dataEvents
  // ---------------------------------------------------------------

  test("SSE decoder: events split on blank lines, multi-line data joins with \\n") {
    val lines = Iterator(
      ": keep-alive comment",
      "event: message",
      "data: first",
      "",
      "data: part one",
      "data: part two",
      "",
      "data: [DONE]",
      "",
      "data: after done is never read")
    assert(Sse.dataEvents(lines).toSeq == Seq("first", "part one\npart two"))
  }

  test("SSE decoder: flushes a trailing event with no final blank line") {
    assert(Sse.dataEvents(Iterator("data: tail")).toSeq == Seq("tail"))
    assert(Sse.dataEvents(Iterator.empty).toSeq == Seq.empty)
    // the 'data:' prefix without a space is also valid SSE
    assert(Sse.dataEvents(Iterator("data:x", "")).toSeq == Seq("x"))
  }

  test("SSE decoder is lazy: tokens are available before the stream ends") {
    var pulled = 0
    val src = Iterator("data: a", "", "data: b", "").map { l => pulled += 1; l }
    val it = Sse.dataEvents(src)
    assert(it.next() == "a")
    assert(pulled == 2, "decoder must not read past the first event")
    assert(it.next() == "b")
  }

  // ---------------------------------------------------------------
  // classification JSON parsing (fence-stripping, lenient fields)
  // ---------------------------------------------------------------

  test("classification parsing strips markdown fences and tolerates nulls") {
    val c = OpenAiChatClient.parseClassification(
      """```json
        |{"language": "rust", "intent": "implementation", "wants_code": true,
        | "confidence": 0.9, "target_folders": ["src"], "target_extensions": null,
        | "exclude_patterns": null}
        |```""".stripMargin)
    assert(c.language.contains("rust"))
    assert(c.intent == "implementation")
    assert(c.wants_code && c.confidence == 0.9)
    assert(c.target_folders.contains(Seq("src")))
    assert(c.target_extensions.isEmpty)
  }

  // ---------------------------------------------------------------
  // HTTP client against a local stub server
  // ---------------------------------------------------------------

  private def withServer(handler: (String, HttpExchange) => Unit)(body: String => Unit): Unit = {
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/v1/chat/completions", (ex: HttpExchange) => {
      val req = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
      handler(req, ex)
      ex.close()
    })
    server.start()
    try body(s"http://127.0.0.1:${server.getAddress.getPort}/v1")
    finally server.stop(0)
  }

  private def respond(ex: HttpExchange, payload: String,
                      contentType: String = "application/json"): Unit = {
    val bytes = payload.getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.set("Content-Type", contentType)
    ex.sendResponseHeaders(200, bytes.length)
    ex.getResponseBody.write(bytes)
  }

  test("client round-trips classify through a real HTTP endpoint") {
    var sawAuth: String = null
    withServer { (req, ex) =>
      sawAuth = ex.getRequestHeaders.getFirst("Authorization")
      assert(req.contains("\"stream\":false"))
      respond(ex,
        """{"choices":[{"message":{"content":
          |"{\"language\":\"scala\",\"intent\":\"debugging\",\"wants_code\":true,\"confidence\":0.8}"}}]}"""
          .stripMargin.replace("\n", ""))
    } { base =>
      val client = new OpenAiChatClient(base, Some("sk-test"), "test-model")
      val c = client.classify("why does the build fail?")
      assert(c.language.contains("scala"))
      assert(c.intent == "debugging")
      assert(sawAuth == "Bearer sk-test")
    }
  }

  test("client streams synthesis tokens through SSE") {
    withServer { (req, ex) =>
      assert(req.contains("\"stream\":true"))
      val sse = Seq("Hello", " from", " the", " stream").map { tok =>
        s"""data: {"choices":[{"delta":{"content":"$tok"}}]}\n\n"""
      }.mkString + "data: [DONE]\n\n"
      respond(ex, sse, "text/event-stream")
    } { base =>
      val client = new OpenAiChatClient(base, None, "test-model")
      val out = client.synthesize("q", new graft.chat.MockChatClient().classify("q"),
        None, Seq(("a.rs", "fn a() {}", 0.1))).mkString("")
      assert(out == "Hello from the stream")
    }
  }

  test("a server that never answers fails the call within the request bound") {
    val release = new java.util.concurrent.CountDownLatch(1)
    withServer { (_, _) =>
      release.await(30, java.util.concurrent.TimeUnit.SECONDS); ()
    } { base =>
      val bound = java.time.Duration.ofMillis(500)
      val client = new OpenAiChatClient(base, None, "test-model", requestTimeout = bound)
      val t0 = System.nanoTime()
      try {
        intercept[java.net.http.HttpTimeoutException](client.classify("q"))
        val waitedMs = (System.nanoTime() - t0) / 1e6
        assert(waitedMs >= 400 && waitedMs < 10000, s"waited $waitedMs ms")
      } finally release.countDown()
    }
    // the deployed bounds are finite
    assert(OpenAiChatClient.ConnectTimeout.getSeconds > 0)
    assert(OpenAiChatClient.RequestTimeout.getSeconds > 0)
  }

  // ---------------------------------------------------------------
  // Prompt-template fidelity: the three request bodies carry the
  // reference's exact prompt stack (hyde.rs:17-60, 95-145, 147-295,
  // 353-424, 615-739) and strict json_schema structured output
  // ---------------------------------------------------------------

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  test("classify sends QUERY_CLASSIFICATION_PROMPT with strict json_schema response_format") {
    var body: com.fasterxml.jackson.databind.JsonNode = null
    withServer { (req, ex) =>
      body = mapper.readTree(req)
      respond(ex,
        """{"choices":[{"message":{"content":
          |"{\"language\":null,\"intent\":\"other\",\"wants_code\":true,\"confidence\":0.5}"}}]}"""
          .stripMargin.replace("\n", ""))
    } { base =>
      new OpenAiChatClient(base, None, "test-model").classify("how does chunking work?")
      val msgs = body.path("messages")
      assert(msgs.size == 2)
      assert(msgs.get(0).path("role").asText == "system")
      assert(msgs.get(0).path("content").asText == graft.chat.Prompts.classificationSystemPrompt)
      assert(msgs.get(1).path("content").asText == "Analyze this query: how does chunking work?")
      assert(body.path("max_tokens").asInt == 200)
      assert(body.path("temperature").asDouble == 0.1)
      assert(!body.path("stream").asBoolean)
      val rf = body.path("response_format")
      assert(rf.path("type").asText == "json_schema")
      val js = rf.path("json_schema")
      assert(js.path("name").asText == "query_classification")
      assert(js.path("strict").asBoolean)
      val required = js.path("schema").path("required")
      assert((0 until required.size).map(required.get(_).asText).toSet ==
        Set("language", "intent", "wants_code", "confidence",
          "target_folders", "target_extensions", "exclude_patterns"))
      assert(!js.path("schema").path("additionalProperties").asBoolean)
    }
  }

  test("hyde sends the intent-templated system prompt and wants_code-gated input") {
    var body: com.fasterxml.jackson.databind.JsonNode = null
    withServer { (req, ex) =>
      body = mapper.readTree(req)
      respond(ex,
        "data: {\"choices\":[{\"delta\":{\"content\":\"fn hypothetical() {}\"}}]}\n\n" +
          "data: [DONE]\n\n", "text/event-stream")
    } { base =>
      val client = new OpenAiChatClient(base, None, "test-model")
      val c = new graft.chat.MockChatClient().classify("how does the rust parser work?")
      assert(c.intent == "how_it_works" && c.wants_code)
      val doc = client.hyde("how does the rust parser work?", c)
      assert(doc == "fn hypothetical() {}")
      val msgs = body.path("messages")
      val sys = msgs.get(0).path("content").asText
      assert(sys == graft.chat.Prompts.hydeSystemPrompt(c))
      assert(sys.startsWith("You are a rust code expert."))
      assert(sys.contains("Focus specifically on RUST code."))
      assert(sys.contains("NO prose explanations - only executable code with comments."))
      val user = msgs.get(1).path("content").asText
      assert(user.startsWith("Context:\nQuery: how does the rust parser work?"))
      assert(user.contains("Generate actual code implementation (functions, structs, methods)"))
      assert(user.contains("Maximum 1000 characters."))
      assert(body.path("max_tokens").asInt == 1024)
      assert(body.path("temperature").asDouble == 0.2)
      assert(body.path("stream").asBoolean)
    }
  }

  test("synthesize sends persona + investigative methodology + templated user prompt") {
    var body: com.fasterxml.jackson.databind.JsonNode = null
    withServer { (req, ex) =>
      body = mapper.readTree(req)
      respond(ex, "data: {\"choices\":[{\"delta\":{\"content\":\"ok\"}}]}\n\n" +
        "data: [DONE]\n\n", "text/event-stream")
    } { base =>
      val client = new OpenAiChatClient(base, None, "test-model")
      val c = new graft.chat.MockChatClient().classify("how does the index work?")
      val profile = Some(graft.chat.Schemas.RepoProfile(
        "cargo-chat", Seq("Rust"), Seq("Cargo.toml"), Seq("Tokio"), None))
      client.synthesize("how does the index work?", c, profile,
        Seq(("./src/ann.rs", "fn build() {}", 0.123))).mkString
      val msgs = body.path("messages")
      assert(msgs.size == 3)
      // system 1: the per-intent persona with repo context woven in
      val persona = msgs.get(0).path("content").asText
      assert(persona == graft.chat.Prompts.answerPersona(c, profile))
      assert(persona.startsWith(
        "You are a senior software architect analyzing 'cargo-chat', a Rust codebase built with Tokio."))
      assert(persona.contains(
        "memory-safe systems programming with ownership and lifetimes, async runtime and concurrent processing"))
      // system 2: the 5-step methodology, verbatim
      assert(msgs.get(1).path("content").asText == graft.chat.Prompts.investigativePrompt)
      // user: query + analysis task + formatted refs + response template
      val user = msgs.get(2).path("content").asText
      assert(user.startsWith("# User Query\nhow does the index work?"))
      assert(user.contains("Focus on tracing the execution flow"))
      assert(user.contains("## Code Reference 1 - src/ann.rs.rs [RUST]"))
      assert(user.contains("**Relevance Score:** 0.123 (lower = more relevant)"))
      assert(user.contains("===== RESPONSE TEMPLATE ====="))
      assert(user.contains("## 5. Core Insight"))
      assert(body.path("max_tokens").asInt == 2048)
      assert(body.path("temperature").asDouble == 0.0)
    }
  }

  test("fromEnv gates on the base-url variable") {
    assert(OpenAiChatClient.fromEnv(Map.empty).isInstanceOf[graft.chat.MockChatClient])
    assert(OpenAiChatClient.fromEnv(Map("GRAFT_OPENAI_BASE_URL" -> "http://x/v1"))
      .isInstanceOf[OpenAiChatClient])
  }
}
