package perfbench

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

class CorpusSpec extends AnyFunSuite {

  private def bytesOf(write: java.nio.file.Path => java.nio.file.Path): Map[String, Seq[Byte]] = {
    val dir = Files.createTempDirectory("corpus")
    try {
      val p = write(dir)
      val files = if (Files.isDirectory(p)) Bench.listDir(p).toSeq else Seq(p)
      files.map(f => f.getFileName.toString -> Files.readAllBytes(f).toSeq).toMap
    } finally Bench.deleteTree(dir)
  }

  test("one seed gives byte-identical LLM corpus files, another seed different ones") {
    val a = bytesOf(Corpus.writeLlm(Corpus.llm(7, Workload.LlmDocs), _))
    val b = bytesOf(Corpus.writeLlm(Corpus.llm(7, Workload.LlmDocs), _))
    val c = bytesOf(Corpus.writeLlm(Corpus.llm(8, Workload.LlmDocs), _))
    assert(a.keySet == Set("llm_docs.json"))
    assert(a == b)
    assert(a != c)
  }

  test("one seed gives byte-identical curation corpus files, another seed different ones") {
    val a = bytesOf(Corpus.writeCurate(Corpus.curate(7, Workload.CurateDocs), _))
    val b = bytesOf(Corpus.writeCurate(Corpus.curate(7, Workload.CurateDocs), _))
    val c = bytesOf(Corpus.writeCurate(Corpus.curate(8, Workload.CurateDocs), _))
    assert(a.keySet == (0 until Corpus.CurateParts).map(k => f"part-$k%05d.json").toSet)
    assert(a == b)
    assert(a != c)
  }

  test("the seed changes content, not the amount of work") {
    val Seq(x, y) = Seq(1L, 2L).map(Corpus.llm(_, Workload.LlmDocs))
    assert(x.docs.map(_.text) != y.docs.map(_.text))
    assert(x.expectedKept == y.expectedKept && x.expectedKept.size == 72)
    assert(x.throttledMarkers.size == y.throttledMarkers.size)
    assert(x.variants.map(_.size) == y.variants.map(_.size))
    assert(x.variants.forall(v => v.size >= 3 && v.size <= 5))
    Seq(x, y).foreach { c =>
      assert(c.docs.groupBy(_.topic).values.map(_.size).toSet == Set(144 / Corpus.Topics.size))
      assert(c.docs.filter(d => c.expectedKept(d.id)).groupBy(_.topic).values.map(_.size).toSet == Set(9))
      assert(c.sentimentOf.values.groupBy(identity).map { case (k, v) => k -> v.size } ==
        Map("positive" -> 48, "negative" -> 48, "neutral" -> 48))
    }
    val Seq(p, q) = Seq(1L, 2L).map(Corpus.curate(_, Workload.CurateDocs))
    assert(p.clusters.map(_.size) == q.clusters.map(_.size))
    assert(p.junk.size == q.junk.size && p.nearCopies.size == q.nearCopies.size)
    assert(p.expectedBySource.values.sum == q.expectedBySource.values.sum)
  }

  test("planted truth matches the documents") {
    val c = Corpus.llm(3, Workload.LlmDocs)
    c.docs.foreach { d =>
      val keep = (Corpus.FilterPromptPrefix.length + d.text.length) % 2 == 0
      assert(keep == c.expectedKept(d.id), d)
      assert(c.variants.exists(_.contains(d.entity)))
    }
    val k = Corpus.curate(3, Workload.CurateDocs)
    val byId = k.docs.map(d => d.id -> d).toMap
    val inClusters = k.clusters.map(_.size).sum.toDouble / k.docs.size
    assert(inClusters > 0.08 && inClusters < 0.12)
    k.clusters.foreach { cl =>
      assert(cl.size >= 2 && cl.size <= 5)
      assert(cl.map(byId(_).source).distinct.size == 1)
      cl.tail.filter(k.exactCopies).foreach(id => assert(byId(id).text.trim == byId(cl.head).text))
    }
    k.junk.foreach(id => assert(byId(id).text.split(' ').length < 20))
  }
}
