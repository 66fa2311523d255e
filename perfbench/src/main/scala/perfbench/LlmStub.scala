package perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.types._

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.util.concurrent.{ConcurrentHashMap, Executors, ScheduledThreadPoolExecutor, ThreadFactory, TimeUnit}
import java.util.concurrent.atomic.AtomicLong

/** `graft.llm.MockLlmClient`'s answer rules, restated so the stub can answer
  * without touching the mock's call counter or `TokenTally` (the HTTP client
  * already records every completion it receives; the mock would count it a
  * second time). `MockRulesSpec` checks the two agree field for field. */
object MockRules {

  def values(prompt: String, schema: StructType): Map[String, Any] =
    schema.fields.map { f =>
      f.name -> (graft.core.SchemaTypes.enumOf(f) match {
        case Some(vals) => vals(prompt.length % vals.length)
        case None => value(f.name, f.dataType, prompt)
      })
    }.toMap

  /** The mock's rules for the fields the benchmark's pipelines declare:
    * sentiment, rating, the filter's and resolve's booleans, canonical and
    * summary. Any other field is an error, so a pipeline change that
    * declares one fails loudly instead of hash-mismatching. */
  private def value(name: String, dt: DataType, prompt: String): Any = (name, dt) match {
    case ("sentiment", StringType) =>
      if (prompt.contains("fast")) "positive"
      else if (prompt.contains("slow")) "negative"
      else "neutral"
    case ("summary", StringType) => s"docs=${prompt.count(_ == '\n') + 1} chars=${prompt.length}"
    case ("canonical", StringType) => prompt.split('\n').min
    case ("rating", LongType) => 1L + (prompt.length % 7)
    case (_, BooleanType) =>
      val i = prompt.indexOf("\n###\n")
      if (name == "is_match" && i >= 0)
        prompt.substring(0, i).trim.toLowerCase == prompt.substring(i + 5).trim.toLowerCase
      else prompt.length % 2 == 0
    case (_, other) => throw new IllegalArgumentException(s"stub: no mock rule for $name: $other")
  }
}

/** In-process OpenAI-shaped provider stub on loopback.
  *
  * `POST /v1/chat/completions` answers by [[MockRules]]: the prompt is the
  * user message, the schema is rebuilt from the `send_output` tool's JSON
  * schema (or, in `json_object` mode, from the field-list instruction in the
  * system message); batch requests (`{"results": [...]}`) answer each
  * numbered item, so an engine change that batches or switches output mode
  * runs against this benchmark unchanged.
  *
  * Every reply leaves `delayMs` after the request arrived, scheduled on a
  * pool of at most `threads` daemon threads: the delay never occupies a
  * thread, so the stub never caps how many calls are in flight, and it
  * never keeps the JVM alive. Usage tokens are a pure function of the
  * request. A request whose user message contains one of the configured
  * throttle markers draws one 429 on its first attempt.
  */
final class LlmStub(delayMs: Long, threads: Int) {
  import LlmStub.Reply

  private val mapper = new ObjectMapper()

  private def daemons(name: String): ThreadFactory = {
    val n = new AtomicLong()
    r => {
      val t = new Thread(r, s"$name-${n.incrementAndGet()}")
      t.setDaemon(true)
      t
    }
  }

  private val scheduler = new ScheduledThreadPoolExecutor(threads, daemons("llm-stub-reply"))
  private val handlers = Executors.newFixedThreadPool(threads, daemons("llm-stub-handler"))

  private val server: HttpServer = {
    LlmStub.enableNoDelay()
    val s = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 1024)
    s.createContext("/v1/chat/completions", ex => handle(ex, chat))
    s.setExecutor(handlers)
    s.start()
    s
  }

  def baseUrl: String = s"http://127.0.0.1:${server.getAddress.getPort}/v1"

  // ---- counters (reset per run) ----
  val requests = new AtomicLong()
  val ok = new AtomicLong()
  val throttled = new AtomicLong()
  val prompts = new AtomicLong()
  val requestBytes = new AtomicLong()
  val busyNanos = new AtomicLong()
  private val inflight = new AtomicLong()
  val inflightMax = new AtomicLong()
  @volatile private var markers: Seq[String] = Nil
  private val throttledOnce = ConcurrentHashMap.newKeySet[String]()

  /** Zero the counters and arm the throttle for a new run. */
  def reset(throttleMarkers: Seq[String]): Unit = {
    Seq(requests, ok, throttled, prompts, requestBytes, busyNanos, inflight, inflightMax).foreach(_.set(0))
    throttledOnce.clear()
    markers = throttleMarkers
  }

  def stop(): Unit = {
    server.stop(0)
    scheduler.shutdownNow()
    handlers.shutdownNow()
  }

  private def handle(ex: HttpExchange, answer: JsonNode => Reply): Unit = {
    val t0 = System.nanoTime()
    val now = inflight.incrementAndGet()
    inflightMax.accumulateAndGet(now, math.max)
    val reply =
      try {
        val in = ex.getRequestBody
        val bytes = try in.readAllBytes() finally in.close()
        requests.incrementAndGet()
        requestBytes.addAndGet(bytes.length)
        answer(mapper.readTree(bytes))
      } catch {
        case e: Exception =>
          Reply(400, s"""{"error":{"message":${mapper.writeValueAsString(String.valueOf(e.getMessage))}}}"""
            .getBytes(StandardCharsets.UTF_8), 0)
      }
    val wait = delayMs * 1000000L - (System.nanoTime() - t0)
    scheduler.schedule((() => send(ex, reply, t0)): Runnable, math.max(0L, wait), TimeUnit.NANOSECONDS)
  }

  private def send(ex: HttpExchange, r: Reply, t0: Long): Unit =
    try {
      if (r.status / 100 == 2) { ok.incrementAndGet(); prompts.addAndGet(r.prompts) }
      else if (r.status == 429) throttled.incrementAndGet()
      ex.getResponseHeaders.set("Content-Type", "application/json")
      ex.sendResponseHeaders(r.status, r.body.length)
      val os = ex.getResponseBody
      try os.write(r.body) finally os.close()
    } catch { case _: java.io.IOException => () } // client went away
    finally {
      busyNanos.addAndGet(System.nanoTime() - t0)
      inflight.decrementAndGet()
    }

  private def json(n: ObjectNode): Array[Byte] = mapper.writeValueAsBytes(n)

  private val ItemHeader = raw"\n\n### Item \d+\n".r
  private val BatchCount = raw"You will receive (\d+) numbered items".r.unanchored

  private def chat(req: JsonNode): Reply = {
    val msgs = req.path("messages")
    def content(role: String): String = {
      val it = msgs.elements()
      var s = ""
      while (it.hasNext) { val m = it.next(); if (m.path("role").asText() == role) s = m.path("content").asText() }
      s
    }
    val system = content("system")
    val user = content("user")
    if (markers.exists(user.contains) && throttledOnce.add(user))
      return Reply(429, """{"error":{"message":"rate limited","type":"rate_limit"}}""".getBytes(StandardCharsets.UTF_8), 0)
    val tool = req.path("tools").path(0).path("function").path("parameters")
    val schema = if (!tool.isMissingNode) LlmStub.structOf(tool) else LlmStub.structOfInstruction(system)
    val (payload, n) = schema.fields.toSeq match {
      case Seq(StructField("results", ArrayType(item: StructType, _), _, _)) =>
        val items = system match {
          case BatchCount(k) if k.toInt > 0 =>
            ItemHeader.split(user.stripPrefix("### Item 1\n")).toSeq
          case _ => Seq(user)
        }
        val root = mapper.createObjectNode()
        val arr = root.putArray("results")
        items.foreach(p => arr.add(toJson(MockRules.values(p, item), item)))
        root -> items.size
      case _ => toJson(MockRules.values(user, schema), schema) -> 1
    }
    val args = mapper.writeValueAsString(payload)
    val root = mapper.createObjectNode()
    root.put("id", s"stub-${requests.get()}")
    root.put("object", "chat.completion")
    root.put("model", req.path("model").asText())
    val msg = root.putArray("choices").addObject()
    msg.put("index", 0)
    msg.put("finish_reason", if (tool.isMissingNode) "stop" else "tool_calls")
    val m = msg.putObject("message")
    m.put("role", "assistant")
    if (tool.isMissingNode) m.put("content", args)
    else {
      m.putNull("content")
      val call = m.putArray("tool_calls").addObject()
      call.put("id", "call_0")
      call.put("type", "function")
      call.putObject("function").put("name", "send_output").put("arguments", args)
    }
    val pt = (system.length + user.length) / 4 + 1
    val ct = args.length / 4 + 1
    root.putObject("usage").put("prompt_tokens", pt).put("completion_tokens", ct).put("total_tokens", pt + ct)
    Reply(200, json(root), n)
  }

  private def toJson(values: Map[String, Any], schema: StructType): ObjectNode = {
    val o = mapper.createObjectNode()
    schema.fields.foreach { f =>
      values(f.name) match {
        case s: String => o.put(f.name, s)
        case l: Long => o.put(f.name, l)
        case b: Boolean => o.put(f.name, b)
        case other => throw new IllegalArgumentException(s"stub: cannot encode $other")
      }
    }
    o
  }
}

object LlmStub {

  private final case class Reply(status: Int, body: Array[Byte], prompts: Int)

  /** Without TCP_NODELAY every small reply waits out a Nagle/delayed-ACK
    * stall (~40 ms). The HTTP server reads this once, when its first
    * instance is built. */
  def enableNoDelay(): Unit = System.setProperty("sun.net.httpserver.nodelay", "true")

  /** A JSON-schema object node (the `send_output` tool parameters) as the
    * StructType the client declared; `enum` lists travel as the field
    * metadata `graft.core.SchemaTypes` uses. */
  def structOf(node: JsonNode): StructType = {
    val props = node.path("properties")
    val names = props.fieldNames()
    val fields = Seq.newBuilder[StructField]
    while (names.hasNext) {
      val n = names.next()
      fields += field(n, props.path(n))
    }
    StructType(fields.result())
  }

  private def field(name: String, n: JsonNode): StructField = {
    val enumVals = n.path("enum")
    if (enumVals.isArray) {
      val vs = (0 until enumVals.size()).map(enumVals.get(_).asText())
      StructField(name, StringType, nullable = true, new MetadataBuilder()
        .putStringArray(graft.core.SchemaTypes.EnumMetadataKey, vs.toArray).build())
    } else StructField(name, dataType(n))
  }

  private def dataType(n: JsonNode): DataType = n.path("type").asText() match {
    case "string" => StringType
    case "integer" => LongType
    case "number" => DoubleType
    case "boolean" => BooleanType
    case "array" => ArrayType(n.path("items") match {
      case it if it.path("type").asText() == "object" => structOf(it)
      case it => dataType(it)
    })
    case "object" => structOf(n)
    case other => throw new IllegalArgumentException(s"stub: unsupported JSON schema type '$other'")
  }

  private val InstructionField =
    raw""""([^"]+)" \((string|integer|boolean)(?:, one of: ((?:"[^"]*"(?: \| )?)+))?\)""".r

  /** The schema of a `json_object`-mode request, parsed from the field-list
    * instruction the client puts in the system message. */
  def structOfInstruction(system: String): StructType =
    StructType(InstructionField.findAllMatchIn(system).map { m =>
      val dt = m.group(2) match {
        case "string" => StringType
        case "integer" => LongType
        case _ => BooleanType
      }
      Option(m.group(3)) match {
        case Some(vs) =>
          val vals = raw""""([^"]*)"""".r.findAllMatchIn(vs).map(_.group(1)).toArray
          StructField(m.group(1), StringType, nullable = true, new MetadataBuilder()
            .putStringArray(graft.core.SchemaTypes.EnumMetadataKey, vals).build())
        case None => StructField(m.group(1), dt)
      }
    }.toSeq)
}
