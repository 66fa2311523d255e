package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

/** Seeded corpus generators with their ground truth.
  *
  * Every count that shapes the work (documents, topics, entities, variants,
  * sentiment words, filter decisions, throttled calls, duplicate clusters)
  * is a fixed function of the corpus size; the seed chooses words and names
  * (and, in the curation corpus, which document plays which role). So two
  * seeds cost about the same work and differ in content, and one seed
  * always yields byte-identical files.
  *
  * File layout (JSON lines, one object per line, keys in the order shown):
  *   - LLM corpus: a single file `llm_docs.json`, documents in id order,
  *     `{"id","topic","entity","text"}`.
  *   - Curation corpus: a directory `curate_docs.json/` holding
  *     `part-00000.json` .. `part-00007.json`, contiguous id ranges of equal
  *     size, `{"id","source","text"}`.
  */
object Corpus {

  /** Topic keys the LLM corpus's `reduce` groups by. */
  val Topics: Seq[String] =
    Seq("billing", "shipping", "returns", "quality", "support", "pricing", "warranty", "setup")

  /** Prompts of the LLM pipeline's `map` and `filter`: the generator needs
    * them to plant the mock's length-parity filter decision exactly. */
  val MapPromptPrefix = "Classify this customer review.\n"
  val FilterPromptPrefix = "Keep this review for the vendor digest?\n"

  val CurateParts = 8
  val CurateSources: Seq[String] = (0 until 16).map(i => f"src$i%02d")

  final case class LlmDoc(id: Long, topic: String, entity: String, text: String)

  /** Ground truth of the LLM corpus.
    *  - `variants(e)`: the spelling variants of entity `e` (the first is
    *    canonical); all but the last differ only in case or surrounding
    *    blanks, so the mock's trimmed-lowercase compare matches them.
    *  - `expectedKept`: ids the mock's filter keeps (even prompt length).
    *  - `throttledMarkers`: the `#dNNNNN` tags of 1% of the documents
    *    (all kept ones), whose map and filter prompts draw one 429 each. */
  final case class LlmCorpus(
      docs: Seq[LlmDoc],
      variants: Seq[Seq[String]],
      expectedKept: Set[Long],
      sentimentOf: Map[Long, String],
      throttledMarkers: Seq[String])

  final case class CurateDoc(id: Long, source: String, text: String)

  /** Ground truth of the curation corpus.
    *  - `junk`: ids of documents too short for the quality filter.
    *  - `clusters`: planted duplicate clusters (2-5 ids, original first).
    *  - `exactCopies` / `nearCopies`: copy ids by kind (identical up to
    *    blanks vs one substituted word).
    *  - `expectedBySource`: documents a perfect pipeline keeps, per source. */
  final case class CurateCorpus(
      docs: Seq[CurateDoc],
      junk: Set[Long],
      clusters: Seq[Seq[Long]],
      exactCopies: Set[Long],
      nearCopies: Set[Long],
      expectedBySource: Map[String, Long])

  private final class Rng(seed: Long, stream: Long) {
    private val r = new java.util.SplittableRandom(seed * 0x9E3779B97F4A7C15L + stream)
    def int(n: Int): Int = r.nextInt(n)
    def shuffle[A](xs: Seq[A]): Vector[A] = {
      val a = xs.toArray[Any]
      var i = a.length - 1
      while (i > 0) {
        val j = r.nextInt(i + 1)
        val t = a(i); a(i) = a(j); a(j) = t
        i -= 1
      }
      a.toVector.asInstanceOf[Vector[A]]
    }
  }

  private val Consonants = "bcdfghjklmnprstvwz"
  private val Vowels = "aeiou"

  /** Pronounceable pseudo-word of `syllables` consonant-vowel pairs; never
    * contains the mock's sentiment triggers. */
  private def word(rng: Rng, syllables: Int): String = {
    var w = ""
    do {
      val sb = new StringBuilder
      (0 until syllables).foreach { _ =>
        sb += Consonants(rng.int(Consonants.length))
        sb += Vowels(rng.int(Vowels.length))
      }
      if (rng.int(3) == 0) sb += Consonants(rng.int(Consonants.length))
      w = sb.toString
    } while (w.contains("fast") || w.contains("slow"))
    w
  }

  private def vocabulary(rng: Rng, n: Int): Vector[String] = {
    val seen = scala.collection.mutable.LinkedHashSet[String]()
    while (seen.size < n) seen += word(rng, 1 + rng.int(3))
    seen.toVector
  }

  // --------------------------------------------------------------- LLM

  def llm(seed: Long, n: Int): LlmCorpus = {
    require(n % 144 == 0, "LLM corpus size must be a multiple of 144")
    val rng = new Rng(seed, 1)
    val vocab = vocabulary(rng, 600)
    val nEntities = n / 6
    // entity names with pairwise distinct 3-letter prefixes: resolve blocks
    // on that prefix, so each block holds exactly one entity's variants
    val prefixes = scala.collection.mutable.LinkedHashSet[String]()
    val names = Vector.newBuilder[String]
    while (prefixes.size < nEntities) {
      val first = word(rng, 2).capitalize
      val p = first.take(3).toLowerCase
      if (first.length >= 4 && !prefixes.contains(p)) {
        prefixes += p
        names += s"$first ${word(rng, 2 + rng.int(2)).capitalize}"
      }
    }
    val canon = names.result()
    val variants = canon.zipWithIndex.map { case (c, e) =>
      val last = c.split(' ').last
      // one adjacent-letter swap in the last word: a typo the mock's
      // compare does not match
      val typo = c.dropRight(last.length) + last.take(1) + last.slice(2, 3) + last.slice(1, 2) + last.drop(3)
      val all = Seq(c, c.toUpperCase, c.toLowerCase, s" $c ")
      all.take(2 + e % 3) :+ typo // 3, 4 or 5 variants
    }
    // Roles follow a fixed pattern over (entity e, slot j), i = e + nEntities * j,
    // so every seed yields the same resolve graph, the same kept documents
    // per topic and the same number of throttled calls.
    def slot(i: Int): (Int, Int) = (i % nEntities, i / nEntities)
    def keepOf(i: Int): Boolean = slot(i)._2 % 2 == 0
    val kept = (0 until n).filter(keepOf)
    val throttledIdx = rng.shuffle(kept).take((n + 99) / 100).toSet
    val docs = (0 until n).map { i =>
      val id = i + 1L
      val (e, j) = slot(i)
      val vs = variants(e)
      val entity = vs(j % vs.size)
      val topic = Topics((e + j) % Topics.size)
      val sw = Seq("fast", "slow", "")((e + j) % 3)
      val words = (0 until 18 + rng.int(10)).map(_ => vocab(rng.int(vocab.size)))
      val body = words.take(6).mkString(" ") +
        (if (sw.nonEmpty) s" $sw " else " ") + words.drop(6).mkString(" ")
      val base = f"#d$id%05d $topic review of ${entity.trim}: $body"
      // plant the filter decision: the mock keeps a prompt of even length
      val even = (FilterPromptPrefix.length + base.length) % 2 == 0
      val text = if (even == keepOf(i)) base else base + "."
      LlmDoc(id, topic, entity, text)
    }
    LlmCorpus(
      docs,
      variants,
      kept.map(_ + 1L).toSet,
      docs.map { d =>
        d.id -> (if (d.text.contains("fast")) "positive"
                 else if (d.text.contains("slow")) "negative" else "neutral")
      }.toMap,
      throttledIdx.toSeq.sorted.map(i => f"#d${i + 1}%05d"))
  }

  // ---------------------------------------------------------- curation

  def curate(seed: Long, n: Int): CurateCorpus = {
    require(n % (CurateParts * 20) == 0, s"curation corpus size must be a multiple of ${CurateParts * 20}")
    val rng = new Rng(seed, 2)
    val vocab = vocabulary(rng, 4000)
    val stop = graft.functions.TextFunctions.EnglishStopwords
    def sentence(words: Int): Vector[String] =
      Vector.fill(words)(if (rng.int(4) == 0) stop(rng.int(stop.size)) else vocab(rng.int(vocab.size)))
    // ~10% of documents sit in clusters of 2..5 (sizes cycle, mean 3.5)
    val nClusters = n / 35
    val sizes = (0 until nClusters).map(c => 2 + c % 4)
    val nJunk = n / 20
    val nOriginals = n - sizes.map(_ - 1).sum
    // slot -> role, shuffled into id order
    sealed trait Role
    case class Plain(k: Int) extends Role
    case class Copy(cluster: Int, k: Int) extends Role
    val roles: Vector[Role] = rng.shuffle(
      (0 until nOriginals).map(Plain(_): Role) ++
        sizes.zipWithIndex.flatMap { case (s, c) => (1 until s).map(k => Copy(c, k): Role) })
    // the first nClusters originals head the clusters; the last nJunk are junk
    val originals: Vector[Vector[String]] = Vector.tabulate(nOriginals) { k =>
      if (k >= nOriginals - nJunk) sentence(6 + rng.int(6)) else sentence(46 + rng.int(8))
    }
    val sourceOf = Vector.tabulate(nOriginals)(k => CurateSources((k * 7 + rng.int(3)) % CurateSources.size))
    def copyText(c: Int, k: Int): String = {
      val w = originals(c)
      if (k % 2 == 1) { // near copy: one word swapped for a fresh one
        val at = rng.int(w.size)
        var repl = vocab(rng.int(vocab.size))
        while (repl == w(at)) repl = vocab(rng.int(vocab.size))
        w.updated(at, repl).mkString(" ")
      } else if (k == 2) w.mkString(" ") // byte-identical copy
      else w.mkString(" ") + " " // identical up to blanks

    }
    val members = Array.fill(nClusters)(Vector.newBuilder[Long])
    val exact = Set.newBuilder[Long]
    val near = Set.newBuilder[Long]
    val junk = Set.newBuilder[Long]
    val origId = new Array[Long](nClusters)
    val docs = roles.zipWithIndex.map { case (role, i) =>
      val id = i + 1L
      role match {
        case Plain(k) =>
          if (k < nClusters) origId(k) = id
          if (k >= nOriginals - nJunk) junk += id
          CurateDoc(id, sourceOf(k), originals(k).mkString(" "))
        case Copy(c, k) =>
          members(c) += id
          if (k % 2 == 1) near += id else exact += id
          CurateDoc(id, sourceOf(c), copyText(c, k))
      }
    }
    val clusters = (0 until nClusters).map(c => origId(c) +: members(c).result())
    val junkSet = junk.result()
    val copies = clusters.flatMap(_.tail).toSet
    val expected = docs.filterNot(d => junkSet(d.id) || copies(d.id))
      .groupBy(_.source).map { case (s, ds) => s -> ds.size.toLong }
    CurateCorpus(docs, junkSet, clusters, exact.result(), near.result(), expected)
  }

  // ------------------------------------------------------------- files

  private def jsonString(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case '\n' => sb ++= "\\n"
      case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    (sb += '"').toString
  }

  def llmLines(c: LlmCorpus): Seq[String] = c.docs.map { d =>
    s"""{"id":${d.id},"topic":${jsonString(d.topic)},"entity":${jsonString(d.entity)},"text":${jsonString(d.text)}}"""
  }

  def curateLines(c: CurateCorpus): Seq[String] = c.docs.map { d =>
    s"""{"id":${d.id},"source":${jsonString(d.source)},"text":${jsonString(d.text)}}"""
  }

  /** Write the LLM corpus; returns the file path. */
  def writeLlm(c: LlmCorpus, dir: Path): Path = {
    Files.createDirectories(dir)
    val p = dir.resolve("llm_docs.json")
    Files.write(p, (llmLines(c).mkString("\n") + "\n").getBytes(StandardCharsets.UTF_8))
    p
  }

  /** Write the first `n` documents of the LLM corpus to a file of their
    * own; returns its path. */
  def writeLlmSlice(c: LlmCorpus, n: Int, dir: Path): Path = {
    val p = dir.resolve("llm_docs_head.json")
    Files.write(p, (llmLines(c).take(n).mkString("\n") + "\n").getBytes(StandardCharsets.UTF_8))
    p
  }

  /** Write the curation corpus; returns the directory path. */
  def writeCurate(c: CurateCorpus, dir: Path): Path = {
    val p = dir.resolve("curate_docs.json")
    Files.createDirectories(p)
    val lines = curateLines(c)
    val per = lines.size / CurateParts
    (0 until CurateParts).foreach { k =>
      Files.write(p.resolve(f"part-$k%05d.json"),
        (lines.slice(k * per, (k + 1) * per).mkString("\n") + "\n").getBytes(StandardCharsets.UTF_8))
    }
    p
  }

  /** Total bytes of a file or directory tree. */
  def bytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else if (Files.isDirectory(p)) {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum() finally s.close()
    } else Files.size(p)
}
