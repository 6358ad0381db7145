package perfbench

import org.apache.spark.sql.SparkSession

import scala.collection.mutable

/** Failure accounting and the latency samples of one run. An operation
  * that throws, returns a failure or gives a wrong result is counted as
  * failed, logged, and never becomes a latency sample. */
final class Tally {
  var attempted = 0L
  var failed = 0L
  val latencies = mutable.ArrayBuffer.empty[Double]

  def fail(what: String): Unit = {
    failed += 1
    System.err.println(s"[perfbench] FAILED: $what")
  }

  /** Times `op` alone, then runs `check` on its result outside the timed
    * region; `check` returns the error, if any. With `sample = false` the
    * operation is checked and counted but is not a latency sample. */
  def run[T](label: String, sample: Boolean = true)(op: => T)(
      check: T => Option[String]): Option[Double] = {
    attempted += 1
    val t0 = System.nanoTime()
    val r = try Right(op) catch {
      case scala.util.control.NonFatal(e) => Left(s"${e.getClass.getSimpleName}: ${e.getMessage}")
    }
    val s = (System.nanoTime() - t0) / 1e9
    val err = r.fold(Some(_), v =>
      try check(v) catch {
        case scala.util.control.NonFatal(e) => Some(s"check threw ${e.getClass.getSimpleName}: ${e.getMessage}")
      })
    err match {
      case Some(e) => fail(s"$label: $e"); None
      case None =>
        if (sample) latencies += s
        Some(s)
    }
  }

  /** Checks of the final state, made once after the timed loop. */
  def verify(label: String, error: Option[String]): Unit = {
    attempted += 1
    error.foreach(e => fail(s"$label: $e"))
  }
}

/** A workload: a fixture built once, a set-up that opens it from a fresh
  * session, an untimed warm-up, and a timed operation repeated in a closed
  * loop by one client. */
trait Workload {
  /** Builds the fixture under `dir`: the inputs and prior state the
    * workload starts from. Runs once per run, before the set-ups. */
  def prepare(spark: SparkSession, dir: String): Unit = ()
  /** The set-up: opens the fixture from a freshly started session. */
  def open(spark: SparkSession): Unit = ()
  /** Untimed work before the timed loop. */
  def warmup(ctx: Ctx): Unit = ()
  /** One timed operation, recorded (with its checks) in `ctx.book`. */
  def step(ctx: Ctx, i: Int): Unit
  /** Checks on the final state, after the timed loop. */
  def finish(ctx: Ctx): Unit = ()
  /** Per-layer metrics from the trace; called only in traced runs. */
  def layerMetrics(ctx: Ctx, tracer: Tracer): Seq[(String, Double, String)]
}

/** What a workload's steps see: the session, the tracer of a traced run
  * and the run's tally. */
final class Ctx(
    val spark: SparkSession, val cores: Int, val tracer: Option[Tracer], val book: Tally) {
  def span[T](name: String, layer: String)(f: => T): T = tracer match {
    case Some(t) => t.span(name, layer)(f)
    case None => f
  }
  def group(g: String): Unit = tracer.foreach(_.group = g)
}

object Files {
  private def walk(dir: java.io.File): Seq[java.io.File] =
    Option(dir.listFiles()).toSeq.flatten.flatMap(f => if (f.isDirectory) walk(f) else Seq(f))

  /** Parquet data files under `dir` (checksums and markers excluded). */
  def parquet(dir: String): Seq[java.io.File] =
    walk(new java.io.File(dir)).filter(_.getName.endsWith(".parquet"))

  def bytes(dir: String): Long = parquet(dir).map(_.length).sum

  def delete(dir: String): Unit =
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
}
