package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.QueryExecutionListener

import graft.api.{Conf, OpContext, Registry}
import graft.llm.{LlmClient, LlmResponse}

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

/** One timed interval. `parent` is the id of the enclosing span (-1 at the
  * root); times are `System.nanoTime`. */
final case class Span(id: Int, name: String, start: Long, end: Long, parent: Int, runId: String) {
  def seconds: Double = (end - start) / 1e9
}

/** In-memory span recorder for the traced run. Spans opened by the
  * pipeline's own thread nest; LLM calls made on executor threads are
  * recorded under whichever of those spans is open when they start. Nothing is written
  * until [[write]] is called at the end of the run. */
object Tracer {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new java.util.concurrent.atomic.AtomicInteger()
  @volatile private var open: List[Int] = Nil
  @volatile var runId: String = ""

  def reset(run: String): Unit = { spans.clear(); open = Nil; runId = run }

  def current: Int = open.headOption.getOrElse(-1)

  def span[A](name: String)(f: => A): A = {
    val id = ids.incrementAndGet()
    val parent = current
    val t0 = System.nanoTime()
    open = id :: open
    try f
    finally {
      open = open.tail
      spans.add(Span(id, name, t0, System.nanoTime(), parent, runId))
    }
  }

  def record(name: String, start: Long, end: Long, parent: Int): Unit =
    spans.add(Span(ids.incrementAndGet(), name, start, end, parent, runId))

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(_.start)

  /** Span duration minus the union of its direct children's intervals. */
  def selfSeconds(s: Span, everything: Seq[Span]): Double = {
    val kids = everything.filter(_.parent == s.id).map(k => (k.start max s.start, k.end min s.end))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var (lo, hi) = (Long.MinValue, Long.MinValue)
    kids.foreach { case (a, b) =>
      if (a > hi) { if (hi > lo) covered += hi - lo; lo = a; hi = b }
      else hi = hi max b
    }
    if (hi > lo) covered += hi - lo
    math.max(0L, (s.end - s.start) - covered) / 1e9
  }

  /** Write the spans as JSON lines. */
  def write(path: java.nio.file.Path): Unit = {
    val t0 = all.headOption.map(_.start).getOrElse(0L)
    val lines = all.map { s =>
      f"""{"run":"${s.runId}","id":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
        f""""start_ms":${(s.start - t0) / 1e6}%.3f,"end_ms":${(s.end - t0) / 1e6}%.3f}"""
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }
}

/** One provider call seen by [[TimingClient]]; `isMatch` is the verdict of
  * a pairwise compare. */
final case class LlmCall(start: Long, end: Long, isMatch: Option[Boolean])

object LlmCalls {
  val calls = new ConcurrentLinkedQueue[LlmCall]()
  def reset(): Unit = calls.clear()
  def all: Seq[LlmCall] = calls.asScala.toSeq
}

/** Timing decorator around the client stack a pipeline's `llm:` block
  * builds: every call becomes an `llm.call` span under the span open when
  * it starts (local mode: executor threads share the pipeline's JVM). */
final case class TimingClient(inner: LlmClient) extends LlmClient {

  private def timed[A](f: => A)(isMatch: A => Option[Boolean] = (_: A) => None): A = {
    val parent = Tracer.current
    val t0 = System.nanoTime()
    var verdict: Option[Boolean] = None
    try {
      val r = f
      verdict = isMatch(r)
      r
    } finally {
      val t1 = System.nanoTime()
      Tracer.record("llm.call", t0, t1, parent)
      LlmCalls.calls.add(LlmCall(t0, t1, verdict))
    }
  }

  override def complete(model: String, prompt: String, schema: StructType): LlmResponse =
    timed(inner.complete(model, prompt, schema))(r =>
      if (schema.fieldNames.sameElements(Array("is_match"))) r.values.get("is_match").map(_ == true) else None)

  override def completeBatch(model: String, prompts: Seq[String], schema: StructType): Seq[LlmResponse] =
    timed(inner.completeBatch(model, prompts, schema))()

  override def embed(model: String, texts: Seq[String]): Seq[Array[Float]] =
    timed(inner.embed(model, texts))()

  override def logprobConfidence(model: String, prompt: String): Double =
    timed(inner.logprobConfidence(model, prompt))()

  override def withOutputMode(mode: String): LlmClient = TimingClient(inner.withOutputMode(mode))
}

/** Engine-wide Spark counters from a SparkListener plus a
  * QueryExecutionListener (analysis, optimizer and planning phases). */
final class SparkCounters extends SparkListener with QueryExecutionListener {
  private val c = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
  private def add(k: String, v: Long): Unit = c.merge(k, v, (a, b) => a + b)
  def get(k: String): Long = Option(c.get(k)).map(_.longValue).getOrElse(0L)
  def reset(): Unit = c.clear()

  override def onJobStart(e: SparkListenerJobStart): Unit = add("jobs", 1)
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = add("stages", 1)
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    add("tasks", 1)
    if (e.reason != org.apache.spark.Success) add("task_failures", 1)
    Option(e.taskMetrics).foreach { m =>
      add("run_ms", m.executorRunTime)
      add("cpu_ns", m.executorCpuTime)
      add("gc_ms", m.jvmGCTime)
      add("shuffle_read", m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead)
      add("shuffle_write", m.shuffleWriteMetrics.bytesWritten)
      add("spill", m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  private def phases(qe: QueryExecution): Unit =
    add("plan_ms", qe.tracker.phases.filter { case (k, _) =>
      k == "analysis" || k == "optimization" || k == "planning"
    }.values.map(_.durationMs).sum)
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = phases(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = phases(qe)
}

/** Op-by-op tracing through the public operator registry: each op type the
  * workload uses is re-registered wrapped, so that its input and output are
  * persisted and counted inside spans of their own. */
object OpTracing {

  final case class OpStat(rowsIn: Long, rowsOut: Long, stubRequests: Long)

  private val stats = scala.collection.mutable.LinkedHashMap[String, OpStat]()
  def opStats: Map[String, OpStat] = stats.synchronized(stats.toMap)

  /** The span an op's work is attributed to: LLM operators under `ops.`,
    * dedup methods under `dedup.`, the curation text statistics under
    * `functions.`. */
  def spanName(tpe: String, c: Conf): String = tpe match {
    case "dedup" => s"dedup.${c("method").str}"
    case "code_map" if c("name").str == Workloads.StatsOp => "functions.stats"
    case other => s"ops.$other"
  }

  /** Wrap `types`; returns the originals, for [[restore]]. `onOp` sees
    * each traced op's span name, input and (persisted) output. */
  def install(types: Seq[String], stubRequests: () => Long,
      onOp: (String, DataFrame, DataFrame) => Unit = (_, _, _) => ()): Map[String, Registry.Factory] = {
    stats.synchronized(stats.clear())
    val originals = types.map(t => t -> Registry(t)).toMap
    originals.foreach { case (t, orig) =>
      Registry.register(t) { (df: DataFrame, c: Conf, ctx: OpContext) =>
        // an op whose input is not cached yet reads it from its source
        if (df.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
          Tracer.span("sources.read")(df.persist().count())
        val name = spanName(t, c)
        val out = Tracer.span(name) {
          val r0 = stubRequests()
          val in = df.count()
          val o = orig(df, c, ctx).persist()
          val n = o.count()
          val s = OpStat(in, n, stubRequests() - r0)
          stats.synchronized(stats.updateWith(name) {
            case Some(p) => Some(OpStat(p.rowsIn + s.rowsIn, p.rowsOut + s.rowsOut, p.stubRequests + s.stubRequests))
            case None => Some(s)
          })
          o
        }
        onOp(name, df, out)
        out
      }
    }
    originals
  }

  def restore(originals: Map[String, Registry.Factory]): Unit =
    originals.foreach { case (t, f) => Registry.register(t)(f) }
}

/** Peak heap use over an interval, from the JVM's memory pools. */
object HeapPeak {
  private def pools = java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)
  def reset(): Unit = pools.foreach(_.resetPeakUsage())
  def peakMb: Double = pools.map(_.getPeakUsage.getUsed).sum / (1024.0 * 1024.0)
}
