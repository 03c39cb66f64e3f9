package graft.providers

import scala.util.hashing.MurmurHash3

/** Model/connection catalog objects — the Spark-side equivalent of the
  * reference's `CREATE MODEL` / `CREATE CONNECTION` DDL
  * (reference generate_personalized_commands.sh:191-259). A model is a
  * named spec resolved by the ml_predict surface; a connection is a named
  * endpoint+credential bundle hydrated from config.
  */
final case class ConnectionSpec(name: String, connType: String,
                                endpoint: String, apiKey: String = "",
                                username: String = "", password: String = "")

final case class ModelSpec(name: String, provider: String, task: String,
                           connection: String, modelVersion: String = "",
                           inputFormat: String = "", systemPrompt: String = "",
                           dim: Int = 1536)

object ConnectionRegistry {
  private val conns = scala.collection.concurrent.TrieMap.empty[String, ConnectionSpec]
  def register(c: ConnectionSpec): Unit = conns.put(c.name, c)
  def get(name: String): ConnectionSpec =
    conns.getOrElse(name, sys.error(s"unknown connection '$name'"))
  def clear(): Unit = conns.clear()
}

object ModelRegistry {
  private val models = scala.collection.concurrent.TrieMap.empty[String, ModelSpec]
  def register(m: ModelSpec): Unit = models.put(m.name, m)
  def get(name: String): ModelSpec =
    models.getOrElse(name, sys.error(s"unknown model '$name'"))
  def clear(): Unit = models.clear()

  /** The reference's two models (generate_personalized_commands.sh:215-259),
    * wired to deterministic local providers so the engine runs fully
    * offline. The GPT-4 system prompt is the behavioural contract the
    * mock chat provider satisfies (see FIXTURES.md §2). */
  def registerReferenceModels(): Unit = {
    register(ModelSpec("openaiembed", provider = "mock", task = "embedding",
      connection = "azure-openai-embedding-connection",
      inputFormat = "OPENAI-EMBED"))
    register(ModelSpec("coaching_response_generator", provider = "mock",
      task = "text_generation", connection = "gpt-4-connection",
      modelVersion = "gpt-4",
      systemPrompt = "You are an expert sales coach AI. Provide actionable " +
        "sales guidance formatted as JSON with fields suggested_response " +
        "(<=75 words), sources (3 objects: document_index, document_id, " +
        "title, path, full_text, used_excerpt) and reasoning (<=25 words)."))
  }
}

/** CREATE MODEL → runtime backend resolution: the deploy-time seam the
  * SQL `ml_predict` function goes through. `provider = "mock"` wires the
  * deterministic offline backends; `"azureopenai"` the REST providers
  * (reference generate_personalized_commands.sh:215-224: `'provider' =
  * 'azureopenai'`). */
object Providers {
  def embedderFor(spec: ModelSpec): EmbeddingProvider = spec.provider match {
    case "mock"        => new MockEmbedder(spec.dim)
    case "azureopenai" => new AzureOpenAIEmbedder(spec.connection, spec.dim)
    case p => sys.error(s"model '${spec.name}': unknown embedding provider '$p'")
  }
  def chatFor(spec: ModelSpec): ChatProvider = spec.provider match {
    case "mock"        => new MockChat
    case "azureopenai" => new AzureOpenAIChat(spec.connection)
    case p => sys.error(s"model '${spec.name}': unknown chat provider '$p'")
  }
}

/** Pluggable inference backends. The engine only ever sees these traits;
  * batching happens in the physical ml_predict (MlPredict.scala). */
trait EmbeddingProvider extends Serializable {
  def dim: Int
  def embed(text: String): Array[Float] = embedBatch(Seq(text)).head
  /** One RPC per batch in remote impls. */
  def embedBatch(texts: Seq[String]): Seq[Array[Float]]
}

trait ChatProvider extends Serializable {
  def completeBatch(prompts: Seq[String], systemPrompt: String): Seq[String]
}

/** Deterministic mock embedder: unit-norm `dim`-float vector from a
  * seeded MurmurHash3 of the input — stable across JVMs/runs so vector
  * search results and golden tests are reproducible (FIXTURES.md §5).
  * Reference dim is 1536 (ada-002, terraform/main.tf:657); tests use
  * smaller dims.
  */
final class MockEmbedder(override val dim: Int = 1536) extends EmbeddingProvider {
  override def embedBatch(texts: Seq[String]): Seq[Array[Float]] =
    texts.map { t =>
      val raw = Array.tabulate(dim) { i =>
        // map a 32-bit hash to [-1, 1)
        MurmurHash3.stringHash(t, i) / Int.MaxValue.toFloat
      }
      val n = math.sqrt(raw.foldLeft(0.0)((a, x) => a + x.toDouble * x)).toFloat
      if (n == 0f) raw else raw.map(_ / n)
    }
}

/** Deterministic mock chat: emits the coaching-response contract JSON
  * (FIXTURES.md §2), echoing the k retrieved doc ids/chunks parsed back
  * out of the prompt — so an end-to-end run asserts prompt assembly. */
final class MockChat extends ChatProvider {
  import MockChat._
  private def esc(s: String): String = graft.io.JsonText.escape(s)

  override def completeBatch(prompts: Seq[String], systemPrompt: String): Seq[String] =
    prompts.map { p =>
      val docs = DocRe.findAllMatchIn(p).toSeq
      val msg = MsgRe.findFirstMatchIn(p).map(_.group(1)).getOrElse("")
      val sources = docs.map { m =>
        val id = m.group(2)
        val title = id.split('/').lastOption.getOrElse(id)
        val path = if (id.contains('/')) id.substring(0, id.lastIndexOf('/') + 1) else ""
        s"""{"document_index": ${m.group(1)}, "document_id": "${esc(id)}", """ +
          s""""title": "${esc(title)}", "path": "${esc(path)}", """ +
          s""""full_text": "${esc(m.group(3))}", "used_excerpt": "${esc(m.group(3).take(40))}"}"""
      }
      val hash = math.abs(MurmurHash3.stringHash(p)).toString
      s"""```json
{
  "suggested_response": "Acknowledge the concern and reframe value (ref ${hash.take(6)}): ${esc(msg.take(60))}",
  "sources": [${sources.mkString(", ")}],
  "reasoning": "Grounded in the top retrieved documents.",
}
```"""
    }
}

private object MockChat {
  // prompt shape is buildCoachingPrompt's: "Document N: <id>\n<chunks>"
  private val DocRe = "(?s)Document (\\d+): ([^\n]*)\n(.*?)(?=\n\nDocument |$)".r
  private val MsgRe = "## PROSPECT MESSAGE: ([^\n]*)".r
}

/** Azure OpenAI providers (public REST API shape). Not exercised in this
  * offline build environment — the engine's tests run on the mocks — but
  * kept code-complete so a deployment with real credentials only swaps the
  * provider instance.
  */
final class AzureOpenAIEmbedder(connectionName: String,
                                override val dim: Int = 1536,
                                apiVersion: String = "2023-05-15")
    extends EmbeddingProvider {
  override def embedBatch(texts: Seq[String]): Seq[Array[Float]] = {
    val conn = ConnectionRegistry.get(connectionName)
    val body = texts.map(t => "\"" + t.replace("\\", "\\\\").replace("\"", "\\\"") + "\"")
      .mkString("{\"input\": [", ",", "]}")
    val resp = Http.post(s"${conn.endpoint}?api-version=$apiVersion",
      body, Map("api-key" -> conn.apiKey))
    Http.parseEmbeddings(resp, texts.size)
  }
}

final class AzureOpenAIChat(connectionName: String,
                            apiVersion: String = "2024-02-01")
    extends ChatProvider {
  override def completeBatch(prompts: Seq[String], systemPrompt: String): Seq[String] = {
    val conn = ConnectionRegistry.get(connectionName)
    prompts.map { p =>
      def esc(s: String) = s.replace("\\", "\\\\").replace("\"", "\\\"").replace("\n", "\\n")
      val body =
        s"""{"messages": [{"role": "system", "content": "${esc(systemPrompt)}"},
           |{"role": "user", "content": "${esc(p)}"}]}""".stripMargin
      val resp = Http.post(s"${conn.endpoint}?api-version=$apiVersion",
        body, Map("api-key" -> conn.apiKey))
      Http.parseChatContent(resp)
    }
  }
}

/** Minimal HTTP + JSON helpers for the remote providers (JDK HttpClient,
  * no extra deps). Exercised offline through a loopback
  * com.sun.net.httpserver in HttpLoopbackSpec — URL/headers/body on a
  * real socket, plus both negative paths below. */
private[providers] object Http {
  private lazy val client = java.net.http.HttpClient.newHttpClient()

  /** POST with bounded retry: 429/5xx retries up to `maxAttempts` with
    * exponential backoff (transient capacity errors, the documented
    * Azure/Atlas guidance), honoring a numeric `Retry-After` response
    * header (seconds, capped at 30 s) over the computed backoff when the
    * server sends one; any other non-2xx fails FAST — a 401/404 never
    * heals by retrying. Exhausted retries and fail-fast statuses both
    * raise IOException carrying the status and a body snippet.
    *
    * CAVEAT — retried POSTs can duplicate side effects: a gateway 5xx
    * returned after the provider processed the request (e.g. a 504)
    * resends a non-idempotent call. Both reference endpoints tolerate
    * this (embedding/chat inference is stateless; the Mongo sink upserts
    * by key, so replays are idempotent) — route genuinely
    * non-idempotent endpoints through `maxAttempts = 1`. The sleep runs
    * on the calling executor task thread during batched inference;
    * that is the intended per-partition pacing, not a scheduler stall. */
  def post(url: String, body: String, headers: Map[String, String],
           maxAttempts: Int = 3, backoffMs: Long = 200): String = {
    require(maxAttempts >= 1, s"invalid maxAttempts=$maxAttempts")
    val b = java.net.http.HttpRequest.newBuilder(java.net.URI.create(url))
      .header("Content-Type", "application/json")
      .POST(java.net.http.HttpRequest.BodyPublishers.ofString(body))
    headers.foreach { case (k, v) => b.header(k, v) }
    val req = b.build()
    var attempt = 1
    while (true) {
      val resp = client.send(req, java.net.http.HttpResponse.BodyHandlers.ofString())
      val code = resp.statusCode()
      if (code / 100 == 2) return resp.body()
      val retryable = code == 429 || code / 100 == 5
      if (!retryable || attempt >= maxAttempts)
        throw new java.io.IOException(
          s"POST $url failed with HTTP $code after $attempt attempt(s): " +
            resp.body().take(200))
      // RFC 9110 Retry-After: delay-seconds form only (the HTTP-date
      // form is rare on rate limiters; unparseable values fall back)
      val retryAfterMs = {
        import scala.jdk.OptionConverters._
        resp.headers().firstValue("Retry-After").toScala
          .flatMap(_.toLongOption).filter(_ >= 0)
          .map(s => math.min(s, 30L) * 1000L)
      }
      Thread.sleep(retryAfterMs.getOrElse(backoffMs << (attempt - 1)))
      attempt += 1
    }
    sys.error("unreachable")
  }

  // Narrow, dependency-free extraction for the two response shapes we use.
  def parseEmbeddings(json: String, n: Int): Seq[Array[Float]] = {
    val arrRe = "\"embedding\"\\s*:\\s*\\[([^\\]]*)\\]".r
    val out = arrRe.findAllMatchIn(json).map(_.group(1).split(',').map(_.trim.toFloat)).toSeq
    require(out.size == n, s"expected $n embeddings, got ${out.size}")
    out
  }

  def parseChatContent(json: String): String = {
    val re = "\"content\"\\s*:\\s*\"((?:[^\"\\\\]|\\\\.)*)\"".r
    re.findFirstMatchIn(json).map(m => unescape(m.group(1))).getOrElse(json)
  }

  private def unescape(s: String): String = graft.io.JsonText.unescape(s)
}
