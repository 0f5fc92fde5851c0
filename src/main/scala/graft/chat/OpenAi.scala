package graft.chat

import java.io.{BufferedReader, InputStreamReader}
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets
import java.time.Duration
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.ObjectMapper
import graft.chat.Schemas.{QueryClassification, RepoProfile}

/** L4: SSE (text/event-stream) decoder — the streaming half of the
  * reference's OpenAI client (/root/reference/src/openai.rs SSE loop,
  * hyde.rs:766-810 stream_answer). Pure function over a line iterator
  * so it is testable without a socket.
  */
object Sse {

  /** Decode SSE lines into `data` payloads: consecutive `data:` lines
    * of one event concatenate with '\n', events end at a blank line,
    * `:` comment lines and non-data fields are ignored, and iteration
    * stops at the OpenAI `[DONE]` sentinel. Lazy: pulls source lines
    * only as events are consumed (streaming tokens arrive as they are
    * sent). */
  def dataEvents(lines: Iterator[String]): Iterator[String] = new Iterator[String] {
    private var pending: String = _
    private var finished = false

    private def emit(data: String): Unit =
      if (data == "[DONE]") finished = true else pending = data

    private def fetch(): Unit = {
      if (pending != null || finished) return
      val buf = new StringBuilder
      var has = false
      while (pending == null && !finished && lines.hasNext) {
        val line = lines.next()
        if (line.isEmpty) {
          if (has) emit(buf.toString)
          buf.clear(); has = false
        } else if (line.startsWith(":")) ()    // comment / keep-alive
        else if (line.startsWith("data:")) {
          val v = line.substring(5).stripPrefix(" ")
          if (has) buf.append('\n')
          buf.append(v); has = true
        } else ()                              // event:/id:/retry: ignored
      }
      // source ended without a trailing blank line: flush the event
      if (pending == null && !finished) {
        if (has) emit(buf.toString)
        if (pending == null) finished = true
      }
    }

    override def hasNext: Boolean = { fetch(); pending != null }
    override def next(): String = {
      fetch()
      if (pending == null) throw new NoSuchElementException("SSE stream exhausted")
      val r = pending; pending = null; r
    }
  }
}

/** L5: OpenAI-compatible chat client over java.net.http (no extra
  * dependency), mirroring /root/reference/src/openai.rs:1-101 — same
  * three touchpoints (classify / hyde / streamed synthesis), same
  * chat-completions wire format, driver-side only (network never runs
  * inside executors). Construct via [[OpenAiChatClient.fromEnv]]; with
  * no endpoint configured the deterministic [[MockChatClient]] is used,
  * so the offline pipeline never carries dead network code paths.
  */
class OpenAiChatClient(baseUrl: String, apiKey: Option[String], model: String,
                       chunkSize: Int = 1000,
                       requestTimeout: Duration = OpenAiChatClient.RequestTimeout)
    extends ChatClient {

  /** The model the request bodies will carry (flag-routing spec hook). */
  private[graft] def modelName: String = model

  @transient private lazy val http =
    HttpClient.newBuilder().connectTimeout(OpenAiChatClient.ConnectTimeout).build()
  @transient private lazy val mapper = new ObjectMapper()

  private def jstr(s: String): String = mapper.writeValueAsString(s)

  /** Chat-completions body with the reference's request shape
    * (openai.rs OpenAIRequest): messages, max_tokens, temperature,
    * stream, and optional strict json_schema response_format. */
  private def chatBody(messages: Seq[(String, String)], maxTokens: Int,
                       temperature: Double, stream: Boolean,
                       jsonSchema: Option[(String, String)] = None): String = {
    val msgs = messages
      .map { case (role, content) =>
        s"""{"role":${jstr(role)},"content":${jstr(content)}}""" }
      .mkString("[", ",", "]")
    val rf = jsonSchema.map { case (name, schema) =>
      s""","response_format":{"type":"json_schema","json_schema":""" +
        s"""{"name":${jstr(name)},"schema":$schema,"strict":true}}"""
    }.getOrElse("")
    s"""{"model":${jstr(model)},"messages":$msgs,"max_tokens":$maxTokens,""" +
      s""""temperature":$temperature,"stream":$stream$rf}"""
  }

  private def post(body: String): HttpResponse[java.io.InputStream] = {
    val b = HttpRequest.newBuilder()
      .uri(URI.create(s"${baseUrl.stripSuffix("/")}/chat/completions"))
      .header("Content-Type", "application/json")
      .timeout(requestTimeout)
    apiKey.foreach(k => b.header("Authorization", s"Bearer $k"))
    http.send(b.POST(HttpRequest.BodyPublishers.ofString(body)).build(),
      HttpResponse.BodyHandlers.ofInputStream())
  }

  private def completeOnce(body: String): String = {
    val resp = post(body)
    if (resp.statusCode() / 100 != 2) {
      val err = new String(resp.body().readAllBytes(), StandardCharsets.UTF_8)
      throw new RuntimeException(
        s"chat completion failed: HTTP ${resp.statusCode()}: ${err.take(500)}")
    }
    mapper.readTree(resp.body())
      .path("choices").path(0).path("message").path("content").asText("")
  }

  private def streamTokens(body: String): Iterator[String] = {
    val resp = post(body)
    if (resp.statusCode() / 100 != 2) {
      val err = new String(resp.body().readAllBytes(), StandardCharsets.UTF_8)
      throw new RuntimeException(
        s"chat stream failed: HTTP ${resp.statusCode()}: ${err.take(500)}")
    }
    val lines = new BufferedReader(
      new InputStreamReader(resp.body(), StandardCharsets.UTF_8))
      .lines().iterator().asScala
    Sse.dataEvents(lines).flatMap { payload =>
      val delta = mapper.readTree(payload)
        .path("choices").path(0).path("delta").path("content")
      if (delta.isTextual) Some(delta.asText) else None
    }
  }

  /** L1: the reference's classify request (hyde.rs:394-424) —
    * QUERY_CLASSIFICATION_PROMPT system message, "Analyze this query"
    * user message, max_tokens 200 / temperature 0.1, and STRICT
    * `response_format.json_schema` structured output; the response is
    * still parsed leniently (markdown-fence cleanup) for
    * non-conforming servers. */
  override def classify(query: String): QueryClassification =
    OpenAiChatClient.parseClassification(completeOnce(chatBody(
      messages = Seq(
        "system" -> Prompts.classificationSystemPrompt,
        "user" -> Prompts.classificationUser(query)),
      maxTokens = 200, temperature = 0.1, stream = false,
      jsonSchema = Some(("query_classification", Prompts.classificationSchema)))))

  /** L2: hypothetical document via the intent×language HyDE template
    * (hyde.rs:95-145) with the wants_code-gated input (:317-336),
    * streamed and concatenated exactly like explain_code_stream
    * (:578-603: max_tokens 1024, temperature 0.2, "Context:" wrap). */
  override def hyde(query: String, c: QueryClassification,
                    profile: Option[RepoProfile] = None): String = {
    val doc = streamTokens(chatBody(
      messages = Seq(
        "system" -> Prompts.hydeSystemPrompt(c, profile),
        "user" -> Prompts.hydeContextWrap(Prompts.hydeUserInput(query, c, chunkSize))),
      maxTokens = 1024, temperature = 0.2, stream = true)).mkString
    if (doc.isEmpty)
      throw new RuntimeException("Hypothetical generation returned no content.")
    doc
  }

  /** L3+L4: streamed synthesis with the full reference prompt stack
    * (hyde.rs:605-764): persona system message, investigative
    * methodology system message, and the assembled user prompt with
    * formatted code references + response template; max_tokens 2048,
    * temperature 0.0. Each SSE delta is one emitted token (L4). */
  override def synthesize(query: String, c: QueryClassification,
                          profile: Option[RepoProfile],
                          snippets: Seq[(String, String, Double)]): Iterator[String] = {
    val formatted = snippets.zipWithIndex.map { case ((file, code, dist), i) =>
      val ext = file.split('.').drop(1).lastOption
      // chunk id = enumeration position: the reference's HydeResult
      // .index rank quirk (hyde.rs:1228), preserved
      Prompts.formatSnippet(i, file, code, dist, i.toLong,
        ext.flatMap(Language.detect), ext)
    }
    streamTokens(chatBody(
      messages = Seq(
        "system" -> Prompts.answerPersona(c, profile),
        "system" -> Prompts.investigativePrompt,
        "user" -> Prompts.answerUserPrompt(query, c, profile, formatted)),
      maxTokens = 2048, temperature = 0.0, stream = true))
  }
}

object OpenAiChatClient {

  /** Every wait on the LLM endpoint is bounded: connecting, and each
    * request until its response headers arrive (a streamed answer's
    * tokens then flow as the server sends them). Past either bound the
    * call fails with `HttpConnectTimeoutException` /
    * `HttpTimeoutException` instead of hanging the query. */
  val ConnectTimeout: Duration = Duration.ofSeconds(10)
  val RequestTimeout: Duration = Duration.ofSeconds(120)

  /** Env-gated factory: GRAFT_OPENAI_BASE_URL (e.g.
    * https://api.openai.com/v1) enables the HTTP client, with
    * GRAFT_OPENAI_API_KEY / GRAFT_OPENAI_MODEL optional; unset, the
    * deterministic mock drives the pipeline. */
  /** `modelFallback` is the CLI's `--answer-model` flag; the env var
    * stays the deployment override (main.rs:42-150 flag surface). */
  def fromEnv(env: Map[String, String] = sys.env,
              modelFallback: Option[String] = None): ChatClient =
    env.get("GRAFT_OPENAI_BASE_URL") match {
      case Some(base) => new OpenAiChatClient(base,
        env.get("GRAFT_OPENAI_API_KEY"),
        env.get("GRAFT_OPENAI_MODEL").orElse(modelFallback)
          .getOrElse("gpt-4o-mini"))
      case None => new MockChatClient()
    }

  private[graft] def parseClassification(content: String): QueryClassification = {
    val mapper = new ObjectMapper()
    val clean = content.trim
      .replaceAll("^```(?:json)?\\s*", "").replaceAll("\\s*```$", "").trim
    val n = mapper.readTree(clean)
    def optStr(f: String): Option[String] = {
      val v = n.path(f)
      if (v.isTextual) Some(v.asText) else None
    }
    def optSeq(f: String): Option[Seq[String]] = {
      val v = n.path(f)
      if (v.isArray) Some(v.elements().asScala.map(_.asText).toSeq).filter(_.nonEmpty)
      else None
    }
    QueryClassification(
      language = optStr("language"),
      intent = optStr("intent").getOrElse("other"),
      wants_code = !n.path("wants_code").isBoolean || n.path("wants_code").asBoolean,
      confidence = if (n.path("confidence").isNumber) n.path("confidence").asDouble else 0.5,
      target_folders = optSeq("target_folders"),
      target_extensions = optSeq("target_extensions"),
      exclude_patterns = optSeq("exclude_patterns"))
  }
}
