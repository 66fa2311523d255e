package perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.api.{Conf, Pipeline}
import graft.llm.{LlmCache, MockLlmClient}

import Workload._
import Harness.EditPass

/** Sets a workload up, runs it under measurement, and runs it traced. One
  * client, one pipeline at a time (closed loop). */
final class Harness(val w: Workload, val seed: Long, val work: Path) {

  var spark: SparkSession = _
  var stub: LlmStub = _
  private var dir: Path = _
  private var llmCorpus: Corpus.LlmCorpus = _
  private var curateCorpus: Corpus.CurateCorpus = _
  private var input: String = _
  /** A slice of the corpus for the JVM's first, cold run. */
  private var coldInput: String = _
  private var goldenHash: String = ""
  private var goldenCalls: Long = -1L
  private var firstHash: Option[String] = None
  private var firstUsage: Option[(Long, Double)] = None

  private def markers: Seq[String] = if (w == Curate) Nil else llmCorpus.throttledMarkers
  private def isolate(): Unit = Bench.isolate(spark, stub, markers)

  def inputBytes: Long = Corpus.bytes(java.nio.file.Paths.get(input))
  def inputFiles: Int = {
    val p = java.nio.file.Paths.get(input)
    if (Files.isDirectory(p)) Bench.listDir(p).size else 1
  }

  // ------------------------------------------------------------- setup

  /** One full set-up: Spark session, stub and corpus. Tears down the
    * previous set-up first. Seconds. */
  def setup(k: Int): Double = {
    close()
    val t0 = System.nanoTime()
    spark = Bench.spark(work)
    stub = new LlmStub(Bench.StubDelayMs, Bench.cores)
    dir = work.resolve(s"setup-$k")
    w match {
      case Curate =>
        curateCorpus = Corpus.curate(seed, w.docs)
        input = Corpus.writeCurate(curateCorpus, dir).toString
        coldInput = java.nio.file.Paths.get(input).resolve("part-00000.json").toString
      case _ =>
        llmCorpus = Corpus.llm(seed, w.docs)
        input = Corpus.writeLlm(llmCorpus, dir).toString
        coldInput = Corpus.writeLlmSlice(llmCorpus, Workload.ColdLlmDocs, dir).toString
    }
    LlmCache.disableDisk()
    (System.nanoTime() - t0) / 1e9
  }

  /** The reference answer for the LLM workload: the same pipeline run
    * directly on `MockLlmClient`, with no provider in between. Seconds. */
  def golden(): Double = if (w == Curate) 0.0 else {
    val t0 = System.nanoTime()
    isolate()
    val out = dir.resolve("golden.parquet")
    Pipeline.run(Conf.fromYaml(Workloads.llmEtl(input, Some(out.toString), None)), spark, MockLlmClient())
    goldenHash = Bench.hash(spark.read.parquet(out.toString))
    goldenCalls = MockLlmClient().callCount
    Bench.deleteTree(out)
    (System.nanoTime() - t0) / 1e9
  }

  def close(): Unit = {
    if (spark != null) Bench.stopSpark(spark)
    if (stub != null) stub.stop()
    if (dir != null) Bench.deleteTree(dir)
    spark = null; stub = null; dir = null
  }

  // ------------------------------------------------------------ checks

  /** Per-topic document counts and summaries against the planted truth:
    * the filter keeps exactly the planted documents, and the mock's summary
    * counts the members it was sent. */
  private def checkDigest(rows: Seq[Row]): Seq[String] = {
    val want = llmCorpus.docs.filter(d => llmCorpus.expectedKept(d.id))
      .groupBy(_.topic).map { case (t, ds) => t -> ds.size.toLong }
    val got = rows.map(r => r.getAs[String]("topic") -> r.getAs[Long]("_counts_prereduce_digest")).toMap
    val bad = rows.filterNot(r =>
      r.getAs[String]("summary").startsWith(s"docs=${r.getAs[Long]("_counts_prereduce_digest")} "))
    (if (got != want) Seq(s"per-topic counts $got, planted $want") else Nil) ++
      bad.map(r => s"summary does not count its members: $r")
  }

  /** Provider calls as counted by `TokenTally` equal the stub's 2xx
    * answers (and the direct-mock run's calls, when it ran); calls and cost
    * repeat exactly from run to run. */
  private def checkProvider(): Seq[String] = {
    val calls = Bench.tallyCalls
    val cost = Bench.tallyCost
    val p = Seq.newBuilder[String]
    if (calls != stub.ok.get) p += s"TokenTally saw $calls calls, the stub answered ${stub.ok.get}"
    if (goldenCalls >= 0 && calls != goldenCalls) p += s"$calls provider calls, the direct-mock run made $goldenCalls"
    firstUsage match {
      case Some(u) if u != (calls, cost) => p += s"calls and cost ${(calls, cost)} differ from the first run's $u"
      case Some(_) => ()
      case None => firstUsage = Some((calls, cost))
    }
    p.result()
  }

  private def checkCuration(out: DataFrame): Seq[String] = {
    val got = out.collect().map(r => r.getAs[String]("source") -> r.getAs[Long]("docs")).toMap
    val want = curateCorpus.expectedBySource
    val p = Seq.newBuilder[String]
    if (got.keySet != want.keySet) p += s"sources ${got.keySet}, expected ${want.keySet}"
    // MinHash is probabilistic: a planted near-duplicate may escape, but a
    // document outside the planted clusters must never be removed
    val missed = want.map { case (s, n) => got.getOrElse(s, 0L) - n }
    if (missed.exists(_ < 0)) p += s"documents wrongly removed: ${want.map { case (s, n) => s -> (got.getOrElse(s, 0L) - n) }}"
    val tolerance = math.max(2, curateCorpus.nearCopies.size / 100)
    if (missed.sum > tolerance) p += s"${missed.sum} planted duplicates survived (tolerance $tolerance)"
    if (stub.requests.get != 0 || Bench.tallyCalls != 0) p += "the LLM-free pipeline called a provider"
    p.result()
  }

  private def checkStable(h: String): Seq[String] = firstHash match {
    case Some(f) if f != h => Seq("output differs from the first run's")
    case Some(_) => Nil
    case None => firstHash = Some(h); Nil
  }

  // -------------------------------------------------------- timed runs

  /** The JVM's first pipeline run, on a slice of the corpus and unchecked.
    * A first run costs 5-10x a warm one, mostly class loading and code
    * generation, which do not grow with the input; the slice pays them in
    * less time than the whole corpus would. */
  def coldRun(): Double = {
    isolate()
    val out = outPath("cold")
    val s = Bench.runPipeline(w match {
      case Curate => Workloads.curate(coldInput, Some(out.toString))
      case LlmEtl => Workloads.llmEtl(coldInput, Some(out.toString), Some(stub.baseUrl))
    }, spark)
    Bench.deleteTree(out)
    s
  }

  private def outPath(tag: String): Path = dir.resolve(s"out-$tag.parquet")

  /** One measured run (index `i`); the checks and clean-up run outside the
    * timed interval. */
  def timedRun(i: Int): RunResult = {
    val problems = Seq.newBuilder[String]
    val wall = w match {
      case LlmEtl =>
        isolate()
        val out = outPath(s"$i")
        val s = Bench.runPipeline(Workloads.llmEtl(input, Some(out.toString), Some(stub.baseUrl)), spark)
        val df = spark.read.parquet(out.toString)
        val h = Bench.hash(df)
        if (goldenHash.nonEmpty && h != goldenHash) problems += "output differs from the direct-mock run"
        problems ++= checkStable(h)
        problems ++= checkDigest(df.collect().toSeq)
        problems ++= checkProvider()
        Bench.deleteTree(out)
        s
      case Curate =>
        isolate()
        val out = outPath(s"$i")
        val s = Bench.runPipeline(Workloads.curate(input, Some(out.toString)), spark)
        val df = spark.read.parquet(out.toString)
        problems ++= checkCuration(df)
        problems ++= checkStable(Bench.hash(df))
        Bench.deleteTree(out)
        s
    }
    val p = problems.result()
    RunResult(wall, p.isEmpty, p)
  }

  // ------------------------------------------------- edit and rerun

  /** The DocWrangler loop on the LLM pipeline with `checkpoint_dir` set:
    * one cold run primes the checkpoints and the on-disk response cache,
    * then step (a) edits the reduce prompt (the prefix loads from
    * checkpoints, only the reduce calls the provider) and step (b) adds an
    * unused column in the head code_map (every downstream checkpoint is
    * invalidated but no prompt changes, so every call is a cache hit).
    * Each step starts from an emptied in-memory cache. Checkpoint writes are
    * counted from the checkpoint directory: a checkpoint that is new, or
    * whose `_SUCCESS` marker changed, was written by the step. Every op
    * either loads its checkpoint or computes and saves one, so the ops that
    * wrote nothing read theirs. */
  private[perfbench] def editRerun(): EditPass = {
    val ckpt = dir.resolve("checkpoints")
    val cacheDir = dir.resolve("llm-cache")
    LlmCache.enableDisk(cacheDir.toString)
    try {
      isolate()
      val prime = outPath("prime")
      Bench.runPipeline(Workloads.llmEtl(input, Some(prime.toString), Some(stub.baseUrl), Some(ckpt.toString)), spark)
      val ops = Workloads.LlmOpTypes.size
      def step(out: Path, codeEdit: Option[Int]): (Double, Long, Long, Long) = {
        isolate()
        val before = Harness.checkpoints(ckpt)
        val s = Bench.runPipeline(Workloads.llmEtl(input, Some(out.toString), Some(stub.baseUrl),
          Some(ckpt.toString), promptEdit = Some(1), codeEdit = codeEdit), spark)
        val written = Harness.checkpoints(ckpt).filter { case (p, id) => !before.get(p).contains(id) }.keys
        (s, written.size.toLong, written.toSeq.map(Corpus.bytes).sum, stub.requests.get)
      }
      val (outA, outB) = (outPath("edit-a"), outPath("edit-b"))
      val (wa, writesA, bytesA, reqA) = step(outA, None)
      val (wb, writesB, bytesB, reqB) = step(outB, Some(1))
      val hitsB = LlmCache.hits
      val problems = Seq.newBuilder[String]
      val (a, b) = (spark.read.parquet(outA.toString), spark.read.parquet(outB.toString))
      if (Bench.hash(a) != Bench.hash(b)) problems += "the code edit changed the output"
      problems ++= checkDigest(a.collect().toSeq)
      // one reduce request per topic, nothing for the checkpointed prefix
      if (reqA != Corpus.Topics.size) problems += s"the prompt edit sent $reqA provider requests, expected ${Corpus.Topics.size}"
      if (reqB != 0) problems += s"the code edit sent $reqB provider requests"
      if (hitsB == 0) problems += "the code edit was not served from the response cache"
      if (writesA != 1 || writesB != ops) problems += s"checkpoint writes $writesA/$writesB, expected 1/$ops"
      Seq(prime, outA, outB, ckpt, cacheDir).foreach(Bench.deleteTree)
      EditPass(wa + wb, problems.result(), (ops - writesA) + (ops - writesB), writesA + writesB,
        bytesA + bytesB, hitsB, reqB)
    } finally LlmCache.disableDisk()
  }

  // -------------------------------------------------------- traced run

  /** The traced run: the workload once more, op by op, with spans around
    * every layer call; then, for the LLM pipeline, the edit-and-rerun loop
    * and the cost of lowering. Returns the per-layer metrics and the
    * problems found. */
  def tracedRun(untracedWall: Double, spansOut: Path): (Map[String, Double], Seq[String]) = {
    val counters = new SparkCounters
    spark.sparkContext.addSparkListener(counters)
    spark.listenerManager.register(counters)
    val problems = Seq.newBuilder[String]
    val types = if (w == Curate) Workloads.CurateOpTypes else Workloads.LlmOpTypes
    var minhashInput: Option[DataFrame] = None
    var mapOutput: Option[DataFrame] = None
    val originals = OpTracing.install(types, () => stub.requests.get,
      (name, in, out) => name match {
        case "dedup.minhash" => minhashInput = Some(in)
        case "ops.map" => mapOutput = Some(out)
        case _ => ()
      })
    // The client stack the pipeline's `llm:` block builds, wrapped for
    // timing; the traced config carries no `llm:` block, since Pipeline
    // would prefer it over the client it is given.
    val client = TimingClient(Pipeline.clientFor(Conf.fromYaml(
      Workloads.llmEtl(input, None, Some(stub.baseUrl)))))
    val out = outPath("traced")
    val yaml = w match {
      case LlmEtl => Workloads.llmEtl(input, Some(out.toString), None)
      case Curate => Workloads.curate(input, Some(out.toString))
    }

    isolate()
    LlmCalls.reset()
    Tracer.reset(s"${w.name}-seed$seed-traced")
    counters.reset()
    HeapPeak.reset()
    val t0 = System.nanoTime()
    try {
      // `api.run` root span, op spans inside it, and a `sources.write` span
      // from the last op to the written sink
      Tracer.span("api.run") {
        Pipeline.run(Conf.fromYaml(yaml), spark, client)
        val root = Tracer.current
        Tracer.all.filter(_.parent == root).map(_.end).maxOption
          .foreach(t => Tracer.record("sources.write", t, System.nanoTime(), root))
      }
    } finally OpTracing.restore(originals)
    val wall = (System.nanoTime() - t0) / 1e9
    org.apache.spark.perfbench.ListenerBus.drain(spark.sparkContext)
    val spans = Tracer.all
    val m = scala.collection.mutable.LinkedHashMap[String, Double]()
    def selfOf(name: String): Double = spans.filter(_.name == name).map(Tracer.selfSeconds(_, spans)).sum
    def total(name: String): Double = spans.filter(_.name == name).map(_.seconds).sum

    // ---- llm (the cold side)
    val calls = LlmCalls.all
    val callMs = calls.map(c => (c.end - c.start) / 1e6)
    val requests = stub.requests.get.toDouble
    m("llm.calls") = stub.ok.get.toDouble
    m("llm.cost_usd") = Bench.tallyCost
    m("llm.requests") = requests
    m("llm.throttled") = stub.throttled.get.toDouble
    m("llm.retries") = math.max(0.0, requests - calls.size)
    m("llm.prompts_per_request") = if (stub.ok.get == 0) 0.0 else stub.prompts.get.toDouble / stub.ok.get
    m("llm.request_bytes") = stub.requestBytes.get.toDouble
    m("llm.inflight_max") = stub.inflightMax.get.toDouble
    m("llm.inflight_mean") = stub.busyNanos.get / 1e9 / wall
    m("llm.call_samples") = callMs.size.toDouble
    m("llm.call_p50_ms") = Bench.percentile(callMs, 0.5)
    // the highest percentile with at least ten calls beyond it at this size
    m("llm.call_p95_ms") = Bench.percentile(callMs, 0.95)
    m("llm.client_overhead_ms") = if (callMs.isEmpty) 0.0 else Bench.percentile(callMs, 0.5) - Bench.StubDelayMs
    m("llm.busy_s") = callMs.sum / 1e3
    if (w == LlmEtl && stub.ok.get != Bench.tallyCalls)
      problems += s"TokenTally saw ${Bench.tallyCalls} calls, the stub answered ${stub.ok.get}"
    if (w == LlmEtl && stub.ok.get != goldenCalls)
      problems += s"${stub.ok.get} provider calls, the direct-mock run made $goldenCalls"
    if (w == Curate && (requests != 0 || Bench.tallyCalls != 0))
      problems += "the LLM-free pipeline called a provider"

    // ---- ops
    val ops = OpTracing.opStats
    Seq("map", "filter", "resolve", "reduce").foreach { op =>
      val s = ops.get(s"ops.$op")
      m(s"ops.$op.self_s") = selfOf(s"ops.$op")
      m(s"ops.$op.rows_in") = s.map(_.rowsIn.toDouble).getOrElse(0.0)
      m(s"ops.$op.rows_out") = s.map(_.rowsOut.toDouble).getOrElse(0.0)
      m(s"ops.$op.llm_requests") = s.map(_.stubRequests.toDouble).getOrElse(0.0)
    }
    val compares = calls.filter(_.isMatch.isDefined)
    m("ops.resolve.comparisons") = compares.size.toDouble
    m("ops.resolve.match_ratio") = ratio(compares.count(_.isMatch.contains(true)), compares.size)

    // ---- functions, dedup, sources
    m("functions.stats.self_s") = selfOf("functions.stats")
    m("dedup.exact.self_s") = selfOf("dedup.exact")
    m("dedup.minhash.self_s") = selfOf("dedup.minhash")
    m("sources.read_s") = total("sources.read")
    m("sources.write_s") = total("sources.write")
    m("sources.bytes_written") = Corpus.bytes(out).toDouble

    // ---- spark, jvm
    m("spark.jobs") = counters.get("jobs").toDouble
    m("spark.stages") = counters.get("stages").toDouble
    m("spark.tasks") = counters.get("tasks").toDouble
    m("spark.plan_s") = counters.get("plan_ms") / 1e3
    m("spark.executor_run_s") = counters.get("run_ms") / 1e3
    m("spark.executor_cpu_s") = counters.get("cpu_ns") / 1e9
    m("spark.cpu_util") = counters.get("cpu_ns") / 1e9 / (wall * Bench.cores)
    m("spark.gc_s") = counters.get("gc_ms") / 1e3
    m("spark.shuffle_read_bytes") = counters.get("shuffle_read").toDouble
    m("spark.shuffle_write_bytes") = counters.get("shuffle_write").toDouble
    m("spark.spill_bytes") = counters.get("spill").toDouble
    m("spark.task_failures") = counters.get("task_failures").toDouble
    m("jvm.heap_used_peak_mb") = HeapPeak.peakMb
    m("trace.wall_s") = wall
    m("trace.overhead_s") = wall - untracedWall
    Tracer.write(spansOut)

    // ---- what the traced run produced
    val result = spark.read.parquet(out.toString)
    w match {
      case LlmEtl =>
        if (Bench.hash(result) != goldenHash) problems += "traced output differs from the direct-mock run"
        mapOutput.foreach(df => problems ++= checkSentiment(df))
      case Curate => problems ++= checkCuration(result)
    }
    val (pairs, recall, missed) = minhashInput.map(minhashRecall).getOrElse((0L, 0.0, Nil))
    m("dedup.minhash.verified_pairs") = pairs.toDouble
    m("dedup.minhash.recall") = recall
    if (w == Curate && missed.nonEmpty)
      problems += s"MinHash missed planted pairs one word apart: ${missed.take(5).mkString(", ")}"
    Bench.deleteTree(out)

    // ---- api: lowering, then the edit-and-rerun loop (LLM pipeline)
    m("api.lower_s") = lowerSeconds()
    val edit = if (w == LlmEtl) Some(editRerun()) else None
    edit.foreach(e => problems ++= e.problems)
    m("api.checkpoint_reads") = edit.map(_.ckptReads.toDouble).getOrElse(0.0)
    m("api.checkpoint_writes") = edit.map(_.ckptWrites.toDouble).getOrElse(0.0)
    m("api.checkpoint_bytes") = edit.map(_.ckptBytes.toDouble).getOrElse(0.0)
    m("api.edit_rerun_s") = edit.map(_.wallS).getOrElse(0.0)
    m("llm.cache_hits") = edit.map(_.codeEditHits.toDouble).getOrElse(0.0)
    m("llm.cache_hit_ratio") = edit.map(e => ratio(e.codeEditHits, e.codeEditHits + e.codeEditRequests)).getOrElse(0.0)
    (m.toMap, problems.result())
  }

  private def ratio(a: Long, b: Long): Double = if (b == 0) 0.0 else a.toDouble / b

  /** Conf parse plus `Pipeline.run` until the lazy frame is returned, right
    * after the traced run (so without provider latency: the response cache
    * is still warm). */
  private def lowerSeconds(): Double = {
    val yaml = w match {
      case Curate => Workloads.curate(input, None)
      case LlmEtl => Workloads.llmEtl(input, None, Some(stub.baseUrl))
    }
    val t0 = System.nanoTime()
    Pipeline.run(Conf.fromYaml(yaml), spark)
    (System.nanoTime() - t0) / 1e9
  }

  /** The map's sentiment against the planted sentiment words. */
  private def checkSentiment(mapped: DataFrame): Seq[String] = {
    val bad = mapped.select("id", "sentiment").collect()
      .filter(r => llmCorpus.sentimentOf(r.getLong(0)) != r.getString(1))
    if (bad.isEmpty) Nil else Seq(s"${bad.length} documents with a sentiment other than planted")
  }

  /** Verified pairs from the public `MinHashDedup.candidatePairs` on the
    * MinHash op's input, their recall of the planted duplicate pairs, and
    * the planted pairs it missed whose word 3-shingle Jaccard is at least
    * [[Harness.SurePairJaccard]]. LSH banding misses a pair of two near
    * copies (two words apart, Jaccard ~0.77) now and then; a near copy and
    * its original (one word apart, ~0.87) it must always find. */
  private def minhashRecall(in: DataFrame): (Long, Double, Seq[(Long, Long)]) = {
    import org.apache.spark.sql.functions.col
    val found = graft.dedup.MinHashDedup.candidatePairs(in, "id", "text", 3, 64, 16, 0.7)
      .select(col("id_a").cast("long"), col("id_b").cast("long")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val text = in.select(col("id").cast("long"), col("text")).collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val planted = curateCorpus.clusters.flatMap { c =>
      val m = c.filter(text.contains).sorted
      for (x <- m.indices; y <- m.indices if x < y) yield (m(x), m(y))
    }
    val missedSure = planted.filterNot(found).filter { case (a, b) =>
      Harness.jaccard3(text(a), text(b)) >= Harness.SurePairJaccard
    }
    (found.size.toLong, ratio(planted.count(found), planted.size), missedSure)
  }
}

object Harness {

  /** Planted pairs at least this similar must all be found by MinHash. */
  val SurePairJaccard = 0.85

  /** Jaccard similarity of two texts' word 3-shingle sets. */
  def jaccard3(a: String, b: String): Double = {
    def sh(t: String) = t.split(' ').filter(_.nonEmpty).sliding(3).map(_.mkString(" ")).toSet
    val (x, y) = (sh(a), sh(b))
    (x intersect y).size.toDouble / (x union y).size
  }

  /** Each checkpoint under `dir` with the identity of its `_SUCCESS` marker
    * (file key and modification time); rewriting a checkpoint replaces it. */
  def checkpoints(dir: Path): Map[Path, (AnyRef, Long)] =
    Bench.listDir(dir).toSeq.map(p => p -> p.resolve("_SUCCESS")).collect {
      case (p, ok) if Files.exists(ok) =>
        val a = Files.readAttributes(ok, classOf[java.nio.file.attribute.BasicFileAttributes])
        p -> (a.fileKey, a.lastModifiedTime.to(java.util.concurrent.TimeUnit.NANOSECONDS))
    }.toMap

  /** What the edit-and-rerun loop observed (both steps). */
  final case class EditPass(wallS: Double, problems: Seq[String], ckptReads: Long,
      ckptWrites: Long, ckptBytes: Long, codeEditHits: Long, codeEditRequests: Long)
}
