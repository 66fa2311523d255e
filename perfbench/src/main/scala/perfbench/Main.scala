package perfbench

import java.nio.file.{Path, Paths}

/** Benchmark entry point.
  *
  * {{{
  * Main --workload <llm_etl|curate> --seed <n> --seconds <s> --trace <0|1>
  *      --work <scratch dir> --spans <file>
  * }}}
  *
  * `--trace 0` sets the workload up [[SetupRepeats]] times (the median is
  * `setup_s`), makes a cold run on a slice of the corpus and the workload's
  * warm-up runs, then repeats the pipeline
  * until `--seconds` have passed (at least [[MinRuns]] measured runs);
  * `wall_s` is the median of the measured runs. `--trace 1` sets up once,
  * runs the LLM pipeline directly on `MockLlmClient` for reference, makes
  * the warm-up runs, one plain run and one traced run, and reports the
  * per-layer metrics. Every run's output is checked. The last line of
  * standard output is the JSON result; the exit code is 0 only if every run
  * passed its checks.
  */
object Main {

  val SetupRepeats = 5
  val MinRuns = 3
  val MaxRuns = 50
  /** A run still going after this long is cancelled and counted as failed. */
  val RunLimitS = 60
  /** The whole invocation must end well inside the caller's 180 s. */
  val DeadlineS = 170

  final case class Args(workload: Workload, seed: Long, seconds: Int, trace: Boolean, work: Path, spans: Path)

  def parse(args: Array[String]): Args = {
    val kv = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(Workload.byName(need("workload")), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", Paths.get(need("work")).toAbsolutePath, Paths.get(need("spans")))
  }

  def main(args: Array[String]): Unit = {
    val a = parse(args)
    watchdog(DeadlineS, () => {
      System.err.println(s"perfbench: no result after ${DeadlineS}s, giving up")
      Runtime.getRuntime.halt(3)
    })
    val h = new Harness(a.workload, a.seed, a.work)
    val code =
      try {
        val (attempted, failed, metrics) = if (a.trace) traced(a, h) else timed(a, h)
        println(json(failed == 0, attempted, failed, metrics))
        if (failed == 0) 0 else 1
      } catch {
        case e: Throwable =>
          e.printStackTrace()
          2
      } finally {
        h.close()
        Bench.deleteTree(a.work)
      }
    System.out.flush()
    Runtime.getRuntime.halt(code)
  }

  private def timed(a: Args, h: Harness): (Int, Int, Seq[(String, Double, String)]) = {
    val setups = (1 to SetupRepeats).map { k =>
      val s = h.setup(k)
      log(f"setup $k: $s%.3f s")
      s
    }
    log(s"corpus: ${h.w.docs} docs, ${h.inputBytes} bytes in ${h.inputFiles} file(s)")
    val warmUp = warmUps(h)
    val measured = measure(h, a.seconds)
    val results = warmUp ++ measured
    val ok = results.filter(_.ok)
    val wall = Bench.median(measured.filter(_.ok).map(_.wallS))
    val values = Map(
      "wall_s" -> wall,
      "docs_per_s" -> (if (wall > 0) h.w.docs / wall else 0.0),
      "setup_s" -> Bench.median(setups),
      "ok_frac" -> ok.size.toDouble / results.size)
    (results.size, results.size - ok.size, Metrics.endToEnd.map { case (n, u) => (n, values(n), u) })
  }

  /** The cold run on a slice of the corpus, then the workload's warm-up
    * runs on the whole corpus; not timed. */
  private def warmUps(h: Harness): Seq[RunResult] = {
    val cold = guarded(h)(RunResult(h.coldRun(), ok = true, Nil))
    report("cold run", cold)
    cold +: (1 to h.w.warmUpRuns).map { k =>
      val r = guarded(h)(h.timedRun(-k))
      report(s"warm-up run $k", r)
      r
    }
  }

  /** Repeat the pipeline until `seconds` have passed and at least
    * [[MinRuns]] runs are done. */
  private def measure(h: Harness, seconds: Int): Seq[RunResult] = {
    val t0 = System.nanoTime()
    val out = Seq.newBuilder[RunResult]
    var i = 1
    while ((i <= MinRuns || (System.nanoTime() - t0) / 1e9 < seconds) && i <= MaxRuns) {
      val r = guarded(h)(h.timedRun(i))
      report(s"run $i", r)
      out += r
      i += 1
    }
    out.result()
  }

  private def report(what: String, r: RunResult): Unit =
    log(f"$what: ${r.wallS}%.4f s${if (r.ok) "" else " FAILED: " + r.problems.mkString("; ")}")

  /** A run that throws or outlives [[RunLimitS]] is a failed run. */
  private def guarded(h: Harness)(run: => RunResult): RunResult = {
    val spark = h.spark
    val timer = watchdog(RunLimitS, () => spark.sparkContext.cancelAllJobs())
    try run
    catch { case e: Exception => RunResult(Double.NaN, ok = false, Seq(s"${e.getClass.getSimpleName}: ${e.getMessage}")) }
    finally timer.interrupt()
  }

  private def traced(a: Args, h: Harness): (Int, Int, Seq[(String, Double, String)]) = {
    log(f"setup: ${h.setup(1)}%.3f s")
    log(f"reference run: ${h.golden()}%.3f s")
    val warmUp = warmUps(h)
    val plain = guarded(h)(h.timedRun(0))
    report("plain run", plain)
    val (m, problems) =
      try h.tracedRun(plain.wallS, a.spans)
      catch { case e: Exception => (Map.empty[String, Double], Seq(s"${e.getClass.getSimpleName}: ${e.getMessage}")) }
    problems.foreach(p => log(s"traced run FAILED: $p"))
    val metrics = Metrics.perLayer.map { case (n, unit) => (n, m.getOrElse(n, 0.0), unit) }
    val runs = warmUp :+ plain
    (runs.size + 1, runs.count(!_.ok) + (if (problems.isEmpty) 0 else 1), metrics)
  }

  private def watchdog(seconds: Int, action: () => Unit): Thread = {
    val t = new Thread(() => {
      try { Thread.sleep(seconds * 1000L); action() }
      catch { case _: InterruptedException => () }
    }, "perfbench-watchdog")
    t.setDaemon(true)
    t.start()
    t
  }

  def log(s: String): Unit = System.err.println(s"[perfbench] $s")

  def json(correct: Boolean, attempted: Int, failed: Int, metrics: Seq[(String, Double, String)]): String = {
    def num(d: Double) = if (d.isNaN || d.isInfinite) "0" else d.toString
    metrics.map { case (n, v, u) => s""""$n": {"value": ${num(v)}, "unit": "$u"}""" }
      .mkString(s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {""", ", ", "}}")
  }
}

/** Metric names and units: the end-to-end metrics of a measured run and
  * the per-layer metrics of a traced run. */
object Metrics {
  val endToEnd: Seq[(String, String)] = Seq(
    "wall_s" -> "s", "docs_per_s" -> "docs/s", "setup_s" -> "s", "ok_frac" -> "share")

  val perLayer: Seq[(String, String)] = Seq(
    "llm.calls" -> "count", "llm.cost_usd" -> "usd", "llm.requests" -> "count",
    "llm.throttled" -> "count", "llm.retries" -> "count", "llm.prompts_per_request" -> "count",
    "llm.request_bytes" -> "bytes", "llm.inflight_max" -> "count", "llm.inflight_mean" -> "count",
    "llm.call_samples" -> "count", "llm.call_p50_ms" -> "ms", "llm.call_p95_ms" -> "ms", "llm.client_overhead_ms" -> "ms",
    "llm.busy_s" -> "s", "llm.cache_hits" -> "count", "llm.cache_hit_ratio" -> "share",
    "api.lower_s" -> "s", "api.checkpoint_reads" -> "count", "api.checkpoint_writes" -> "count",
    "api.checkpoint_bytes" -> "bytes", "api.edit_rerun_s" -> "s") ++
    Seq("map", "filter", "resolve", "reduce").flatMap(op => Seq(
      s"ops.$op.self_s" -> "s", s"ops.$op.rows_in" -> "rows", s"ops.$op.rows_out" -> "rows",
      s"ops.$op.llm_requests" -> "count")) ++ Seq(
    "ops.resolve.comparisons" -> "count", "ops.resolve.match_ratio" -> "share",
    "functions.stats.self_s" -> "s", "dedup.exact.self_s" -> "s", "dedup.minhash.self_s" -> "s",
    "dedup.minhash.verified_pairs" -> "count", "dedup.minhash.recall" -> "share",
    "sources.read_s" -> "s", "sources.write_s" -> "s", "sources.bytes_written" -> "bytes",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.plan_s" -> "s", "spark.executor_run_s" -> "s", "spark.executor_cpu_s" -> "s",
    "spark.cpu_util" -> "share", "spark.gc_s" -> "s", "spark.shuffle_read_bytes" -> "bytes",
    "spark.shuffle_write_bytes" -> "bytes", "spark.spill_bytes" -> "bytes",
    "spark.task_failures" -> "count", "jvm.heap_used_peak_mb" -> "MB",
    "trace.wall_s" -> "s", "trace.overhead_s" -> "s")
}
