package cdcbench

import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The correctness gates run against the real program: a run with the true
  * expected digest passes, and the same run with a corrupted expected digest
  * fails every op. */
class GateSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = graft.GraftSession.get(2)
  override def afterAll(): Unit = spark.stop()

  private def run(corrupt: Boolean): Stats.Outcome = {
    val dir = java.nio.file.Files.createTempDirectory("cdcbench-gate").toString
    val o = new Stats.Outcome
    new Workloads(spark, seed = 5L, seconds = 1, root = s"file:$dir", localRoot = dir,
      outcome = o, setupReps = 1, corruptExpectedDigest = corrupt).bulkReplay(0.0)
    o
  }

  test("bulk-replay passes its gates on the program as built") {
    val o = run(corrupt = false)
    assert(o.correct, o.messages)
    assert(o.failed == 0 && o.attempted > 1)
  }

  test("a corrupted expected digest fails the run") {
    val o = run(corrupt = true)
    assert(!o.correct)
    assert(o.failed == o.attempted && o.failedShare == 1.0)
    assert(o.messages.exists(_.contains("final state")))
  }
}
