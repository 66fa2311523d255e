package perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.api.{Conf, Pipeline}
import graft.llm.{LlmCache, MockLlmClient, TokenTally}

/** What one pipeline run left behind: its wall time, whether its output
  * passed the checks, and why not. */
final case class RunResult(wallS: Double, ok: Boolean, problems: Seq[String])

/** A workload: a corpus size, how to set it up, how to run it once under
  * measurement, and how to run it traced. */
sealed trait Workload {
  def name: String
  def docs: Int
  /** Unmeasured runs on the whole corpus, after the cold run on a slice
    * and before the measured ones. With the JIT's lowered compile
    * thresholds, the runs after these are within about 10% of the speed
    * the pipeline reaches after twenty runs, and every measured run sits
    * at the same place on the remaining slope. */
  def warmUpRuns: Int
}

object Workload {
  /** LLM corpus size (~230 characters per document). */
  val LlmDocs = 144
  /** Documents in the LLM corpus slice of the JVM's cold first run. */
  val ColdLlmDocs = 24
  /** Curation corpus size (~300 characters per document). */
  val CurateDocs = 16000

  case object LlmEtl extends Workload { val name = "llm_etl"; val docs = LlmDocs; val warmUpRuns = 1 }
  case object Curate extends Workload { val name = "curate"; val docs = CurateDocs; val warmUpRuns = 4 }

  val all: Seq[Workload] = Seq(LlmEtl, Curate)
  def byName(n: String): Workload = all.find(_.name == n)
    .getOrElse(throw new IllegalArgumentException(s"unknown workload '$n' (${all.map(_.name).mkString(", ")})"))
}

object Bench {

  /** Reply delay of the provider stub. */
  val StubDelayMs = 5L
  val cores: Int = Runtime.getRuntime.availableProcessors()

  /** A Spark session configured like `graft.tools.RunPipeline`, with its
    * scratch space inside `work`. */
  def spark(work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def stopSpark(s: SparkSession): Unit = {
    s.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  /** Engine-wide state every run starts from: no cached responses in
    * memory, no token tally, no mock calls, no operator-persisted frames,
    * no cached tables, a re-armed stub. */
  def isolate(spark: SparkSession, stub: LlmStub, throttleMarkers: Seq[String]): Unit = {
    LlmCache.clear()
    LlmCache.resetHits()
    TokenTally.reset()
    MockLlmClient.resetCalls()
    graft.core.PersistScope.unpersistAll(blocking = true)
    spark.catalog.clearCache()
    stub.reset(throttleMarkers)
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(x => Files.deleteIfExists(x))
      finally s.close()
    }

  def listDir(p: Path): Set[Path] =
    if (!Files.isDirectory(p)) Set.empty
    else {
      val s = Files.list(p)
      try s.toArray.map(_.asInstanceOf[Path]).toSet finally s.close()
    }

  /** Run one YAML pipeline end to end; seconds from the YAML load to the
    * written sink. */
  def runPipeline(yaml: String, spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    Pipeline.run(Conf.fromYaml(yaml), spark)
    (System.nanoTime() - t0) / 1e9
  }

  /** Order-free content hash of a frame. */
  def hash(df: DataFrame): String = {
    val rows = df.collect().map(_.toString).sorted
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.foreach(r => md.update((r + "\n").getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }

  def tallyCalls: Long = TokenTally.summary.values.map(_.calls).sum
  def tallyCost: Double = TokenTally.summary.toSeq.sortBy(_._1).map(_._2.cost).sum

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def percentile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0 else s(math.min(s.size - 1, math.ceil(p * s.size).toInt - 1).max(0))
  }
}
