package perfbench

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

/** The curation pipeline and the code-edit rerun of the LLM pipeline send
  * no provider requests; the curation run passes its ground-truth checks. */
class ZeroRequestsSpec extends AnyFunSuite {

  private def withHarness[A](w: Workload)(f: Harness => A): A = {
    val work = Files.createTempDirectory(s"perfbench-${w.name}")
    val h = new Harness(w, 5, work)
    try { h.setup(1); f(h) }
    finally { h.close(); Bench.deleteTree(work) }
  }

  test("curate sends no provider requests and keeps the planted survivors") {
    withHarness(Workload.Curate) { h =>
      val r = h.timedRun(0)
      assert(r.ok, r.problems)
      assert(h.stub.requests.get == 0)
    }
  }

  test("the code-edit rerun is served entirely from the response cache") {
    withHarness(Workload.LlmEtl) { h =>
      h.golden()
      val e = h.editRerun()
      assert(e.problems.isEmpty, e.problems)
      assert(e.codeEditRequests == 0)
      assert(e.codeEditHits > 0)
      // step (a) reads 4 checkpoints and writes 1; step (b) writes all 5
      assert((e.ckptReads, e.ckptWrites) == (4L, 6L))
    }
  }

  test("a cold LLM run over HTTP matches the direct-mock run") {
    withHarness(Workload.LlmEtl) { h =>
      h.golden()
      val r = h.timedRun(0)
      assert(r.ok, r.problems)
      assert(h.stub.ok.get > 0)
    }
  }
}
