package perfbench

import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.SchemaTypes
import graft.llm.{HttpLlmClient, MockLlmClient, TokenTally}

/** The stub answers exactly as `MockLlmClient` would, over HTTP too, on
  * every field type the benchmark's pipelines declare. */
class MockRulesSpec extends AnyFunSuite {

  private val schemas: Seq[StructType] = Seq(
    // map: str with a rule, enum, int with a rule
    SchemaTypes.toStruct(Seq("sentiment" -> "str", "label" -> Corpus.Topics.mkString("enum[", ", ", "]"),
      "rating" -> "int")),
    // filter: a plain bool
    SchemaTypes.toStruct(Seq("keep" -> "bool")),
    // resolve: the pairwise compare and the canonicalization
    MockLlmClient.boolSchema,
    SchemaTypes.toStruct(Seq("canonical" -> "str")),
    // reduce
    SchemaTypes.toStruct(Seq("summary" -> "str")))

  private val prompts = Seq(
    "Classify this customer review.\n#d00001 billing review of Acme: it was fast",
    "Keep this review?\nso slow",
    "Acme Corp\n###\nACME CORP ",
    "Acme Corp\n###\nAcme Crop",
    "b | neutral | 3\na | positive | 5\nc | negative | 1",
    "")

  test("MockRules agrees with MockLlmClient on every declared field type") {
    val mock = MockLlmClient()
    for (s <- schemas; p <- prompts)
      assert(MockRules.values(p, s) == mock.complete("m", p, s).values, s"$s / $p")
  }

  test("the HTTP stub answers like MockLlmClient without touching its counters") {
    val stub = new LlmStub(delayMs = 1, threads = 2)
    try {
      val mock = MockLlmClient()
      for (mode <- Seq("tools", "structured_output"); s <- schemas; p <- prompts) {
        val http = HttpLlmClient(stub.baseUrl, outputMode = mode)
        val want = mock.complete("m", p, s).values
        TokenTally.reset()
        MockLlmClient.resetCalls()
        assert(http.complete("m", p, s).values == want, s"$mode / $s / $p")
        // the client records its own call; the stub records nothing
        assert(TokenTally.summary("m").calls == 1)
        assert(mock.callCount == 0)
      }
      val batch = HttpLlmClient(stub.baseUrl).completeBatch("m", prompts.filter(_.nonEmpty), schemas.head)
      assert(batch.map(_.values) == prompts.filter(_.nonEmpty).map(mock.complete("m", _, schemas.head).values))
    } finally stub.stop()
  }

  test("usage tokens are a pure function of the request") {
    val stub = new LlmStub(delayMs = 1, threads = 2)
    try {
      val http = HttpLlmClient(stub.baseUrl, pricePerMTokIn = 0.15, pricePerMTokOut = 0.6)
      val a = http.complete("m", prompts.head, schemas.head)
      val b = http.complete("m", prompts.head, schemas.head)
      assert(a.inputTokens > 0 && a.outputTokens > 0)
      assert((a.inputTokens, a.outputTokens, a.cost) == (b.inputTokens, b.outputTokens, b.cost))
    } finally stub.stop()
  }

  test("a marked prompt draws exactly one 429, then succeeds through the retrying client") {
    val stub = new LlmStub(delayMs = 1, threads = 2)
    try {
      stub.reset(Seq("#d00001"))
      val client = graft.llm.RetryingClient(HttpLlmClient(stub.baseUrl), backoffMs = 1)
      assert(client.complete("m", prompts.head, schemas.head).values("sentiment") == "positive")
      assert(client.complete("m", prompts(1), schemas.head).values("sentiment") == "negative")
      assert((stub.requests.get, stub.ok.get, stub.throttled.get) == (3L, 2L, 1L))
      client.complete("m", prompts.head, schemas.head)
      assert(stub.throttled.get == 1L)
    } finally stub.stop()
  }
}
