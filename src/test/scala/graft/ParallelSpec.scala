package graft

import graft.core.Parallel
import org.scalatest.funsuite.AnyFunSuite

import java.util.concurrent.atomic.AtomicBoolean

class ParallelSpec extends AnyFunSuite {

  test("Parallel.all: results in task order") {
    val tasks = (1 to 6).map(i => () => { Thread.sleep((6 - i) * 20L); i * i })
    assert(Parallel.all(tasks, threads = 3) === (1 to 6).map(i => i * i))
    assert(Parallel.all(Seq.empty[() => Int], threads = 4).isEmpty)
  }

  test("Parallel.all: returns only after a slow sibling finishes, then rethrows the first failure") {
    val slowDone = new AtomicBoolean(false)
    val t0 = System.nanoTime()
    val e = intercept[IllegalStateException] {
      Parallel.all(Seq(
        () => { Thread.sleep(50); throw new IllegalStateException("first") },
        () => { Thread.sleep(1500); slowDone.set(true); 0 },
        () => throw new IllegalStateException("second")), threads = 3)
    }
    assert(slowDone.get(), "returned while a sibling task was still running")
    assert((System.nanoTime() - t0) / 1000000L >= 1500L)
    assert(e.getMessage === "first")
    assert(e.getSuppressed.map(_.getMessage).toSeq === Seq("second"))
  }

  test("Parallel.all: pool threads inherit the caller's Spark local properties") {
    val sc = SparkTestSession.spark.sparkContext
    sc.setLocalProperty("graft.test.tag", "caller")
    try {
      val seen = Parallel.all(
        (1 to 4).map(_ => () => sc.getLocalProperty("graft.test.tag")), threads = 4)
      assert(seen === Seq.fill(4)("caller"))
    } finally sc.setLocalProperty("graft.test.tag", null)
  }
}
