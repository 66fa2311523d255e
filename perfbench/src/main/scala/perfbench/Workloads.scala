package perfbench

/** The benchmark's YAML pipelines, all driven through `graft.api.Pipeline`. */
object Workloads {

  /** gpt-4o-mini list prices, dollars per million tokens. */
  val PriceInPerMTok = 0.15
  val PriceOutPerMTok = 0.60
  val Model = "gpt-4o-mini"

  /** Operator types each pipeline uses (the traced run wraps these). */
  val LlmOpTypes: Seq[String] = Seq("code_map", "map", "filter", "resolve", "reduce")
  val CurateOpTypes: Seq[String] = Seq("code_map", "code_filter", "dedup", "code_reduce")
  /** The curation pipeline's text-statistics op, traced as `functions.stats`. */
  val StatsOp = "stats"

  private def q(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c => c.toString
    } + "\""

  /** The LLM pipeline: code_map -> map -> filter -> resolve -> reduce ->
    * parquet sink.
    *  - `baseUrl`: provider endpoint for an `llm: {provider: http}` block;
    *    None leaves the block out (the caller passes its own client).
    *  - `checkpointDir`: per-op checkpoints (the edit-and-rerun loop).
    *  - `promptEdit`: a tag worked into the reduce prompt (its members).
    *  - `codeEdit`: an unused column added by the head code_map. */
  def llmEtl(
      input: String,
      output: Option[String],
      baseUrl: Option[String],
      checkpointDir: Option[String] = None,
      promptEdit: Option[Int] = None,
      codeEdit: Option[Int] = None): String = {
    val llm = baseUrl.fold("") { u =>
      s"""llm:
         |  provider: http
         |  base_url: ${q(u)}
         |  price_per_mtok_in: $PriceInPerMTok
         |  price_per_mtok_out: $PriceOutPerMTok
         |  timeout_ms: 30000
         |  max_retries: 2
         |""".stripMargin
    }
    val ckpt = checkpointDir.fold("")(d => s"checkpoint_dir: ${q(d)}\n")
    val edit = codeEdit.fold("")(k => s"      edit_$k: ${q(s"'$k'")}\n")
    val member = "concat(entity, ' | ', sentiment, ' | ', cast(rating as string))"
    val memberExpr = promptEdit.fold(member)(k => s"concat('v$k ', $member)")
    val out = output.fold("")(o => s"  output:\n    path: ${q(o)}\n")
    s"""$llm$ckpt
       |datasets:
       |  docs:
       |    path: ${q(input)}
       |operations:
       |  - name: prep
       |    type: code_map
       |    outputs:
       |      n_chars: "length(text)"
       |$edit  - name: label
       |    type: map
       |    model: $Model
       |    prompt: ${q(Corpus.MapPromptPrefix + "{{ input.text }}")}
       |    output:
       |      schema:
       |        sentiment: str
       |        label: ${q(Corpus.Topics.mkString("enum[", ", ", "]"))}
       |        rating: int
       |  - name: keep
       |    type: filter
       |    model: $Model
       |    prompt: ${q(Corpus.FilterPromptPrefix + "{{ input.text }}")}
       |    output:
       |      schema:
       |        keep: bool
       |  - name: vendors
       |    type: resolve
       |    model: $Model
       |    id_key: id
       |    block_expr: "substr(lower(trim(entity)), 1, 3)"
       |    compare_expr: "entity"
       |    resolve_keys: [entity]
       |    auto_match: true
       |  - name: digest
       |    type: reduce
       |    model: $Model
       |    reduce_key: [topic]
       |    order_key: id
       |    member_expr: ${q(memberExpr)}
       |    output:
       |      schema:
       |        summary: str
       |pipeline:
       |  steps:
       |    - name: etl
       |      input: docs
       |      operations: [prep, label, keep, vendors, digest]
       |$out""".stripMargin
  }

  /** The curation pipeline: code_map text statistics -> code_filter ->
    * exact dedup -> MinHash dedup -> code_reduce rollup -> parquet sink.
    * No LLM anywhere. */
  def curate(input: String, output: Option[String]): String = {
    val out = output.fold("")(o => s"  output:\n    path: ${q(o)}\n")
    s"""datasets:
       |  docs:
       |    path: ${q(input)}
       |operations:
       |  - name: $StatsOp
       |    type: code_map
       |    outputs:
       |      n_chars: "length(text)"
       |      n_words: "size(split(text, ' '))"
       |      n_upper: "length(regexp_replace(text, '[^A-Z]', ''))"
       |  - name: clean
       |    type: code_filter
       |    predicate: "n_words >= 20 AND n_chars >= 100"
       |  - name: exact
       |    type: dedup
       |    method: exact
       |    text_key: text
       |    tie_break: id
       |  - name: near
       |    type: dedup
       |    method: minhash
       |    id_key: id
       |    text_key: text
       |    shingle_size: 3
       |    num_perms: 64
       |    num_bands: 16
       |    threshold: 0.7
       |  - name: rollup
       |    type: code_reduce
       |    reduce_key: [source]
       |    aggs:
       |      docs: "count(1)"
       |      chars: "sum(n_chars)"
       |      upper: "sum(n_upper)"
       |      words: "sum(n_words)"
       |pipeline:
       |  steps:
       |    - name: curate
       |      input: docs
       |      operations: [$StatsOp, clean, exact, near, rollup]
       |$out""".stripMargin
  }
}
