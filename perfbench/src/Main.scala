package perfbench

import org.apache.spark.sql.SparkSession

/** Benchmark entry point, one workload per JVM:
  *
  * {{{
  * perfbench.Main --workload <backfill|operators> --seed <n>
  *   --seconds <s> --trace <0|1> --cores <n> --work <dir> --data <dir> --out <dir>
  * }}}
  *
  * Prints a context line, then as its last line one JSON object with
  * `correct`, `attempted`, `failed` and `metrics`: the end-to-end metrics
  * when `--trace 0`, the per-layer metrics when `--trace 1`. */
object Main {
  /** Timed set-ups per run; `setup_s` is their median. */
  val Setups = 9
  /** Untimed set-ups before them: the first set-up of a JVM also loads and
    * compiles the classes that opening the fixture needs. */
  val WarmSetups = 1
  /** Fewest timed operations a run makes, whatever `--seconds` says. */
  val MinOps = 2

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def arg(k: String) = args.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val workloadName = arg("workload")
    val seed = arg("seed").toLong
    val seconds = arg("seconds").toDouble
    val trace = arg("trace") == "1"
    val cores = arg("cores").toInt
    val work = arg("work")
    val out = arg("out")

    val w: Workload = workloadName match {
      case "backfill" => new Backfill(seed)
      case "operators" => new Operators(s"${arg("data")}/ops")
      case other => throw new IllegalArgumentException(s"unknown workload '$other'")
    }

    val start = System.nanoTime()
    def phase(what: String): Unit =
      System.err.println(f"[perfbench] $what done at ${(System.nanoTime() - start) / 1e9}%.1fs")
    var spark = graft.core.Sessions.local(cores)
    w.prepare(spark, s"$work/fixture")
    phase("fixture")
    // each set-up stops the session, starts a fresh one and opens the fixture
    val setupS = (1 to WarmSetups + Setups).map { _ =>
      spark.stop()
      val t0 = System.nanoTime()
      spark = graft.core.Sessions.local(cores)
      w.open(spark)
      (System.nanoTime() - t0) / 1e9
    }.drop(WarmSetups)

    val tracer = if (trace) Some(new Tracer(spark.sparkContext)) else None
    val ctx = new Ctx(spark, cores, tracer, new Tally)
    phase("set-ups")
    w.warmup(ctx)
    phase("warm-up")

    val t0 = System.nanoTime()
    var i = 0
    while ((System.nanoTime() - t0) / 1e9 < seconds || i < MinOps) {
      w.step(ctx, i)
      i += 1
    }
    val measured = (System.nanoTime() - t0) / 1e9
    phase(s"$i timed operations")
    w.finish(ctx)
    phase("final checks")

    val book = ctx.book
    // NaN (printed as null) when every operation failed
    val p50 = if (book.latencies.isEmpty) Double.NaN else Stats.median(book.latencies.toSeq)
    val metrics: Seq[(String, Double, String)] = tracer match {
      case None =>
        Seq(
          ("setup_s", Stats.median(setupS), "s"),
          ("p50_s", p50, "s"),
          ("retained_heap_mb", retainedHeapMb(), "MB"))
      case Some(t) =>
        t.drain()
        val own = w.layerMetrics(ctx, t) :+
          ((s"$workloadName.traced_p50_s", p50, "s"))
        new java.io.File(out).mkdirs()
        val f = new java.io.File(out, s"trace-$workloadName-seed$seed.json")
        java.nio.file.Files.writeString(f.toPath, t.toJson)
        System.err.println(s"[perfbench] trace written to $f")
        own
    }

    println(s"""{"context":{"workload":"$workloadName","seed":$seed,"cores":$cores,""" +
      s""""xmx_mb":${Runtime.getRuntime.maxMemory() / (1 << 20)},""" +
      s""""operations":${book.latencies.size},"operation_s":[${book.latencies.mkString(",")}],""" +
      s""""samples_beyond_p50":${Stats.samplesBeyond(book.latencies.size, 0.5)},"measured_s":$measured,""" +
      s""""setup_runs_s":[${setupS.mkString(",")}]}}""")
    val ok = book.failed == 0 && book.latencies.nonEmpty
    val body = metrics.map { case (n, v, u) => s""""$n":{"value":${num(v)},"unit":"$u"}""" }
    println(s"""{"correct":$ok,"attempted":${book.attempted},"failed":${book.failed},""" +
      s""""metrics":{${body.mkString(",")}}}""")
    spark.stop()
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else v.toString

  /** Used heap at run end, with the session still open, in MB: the median
    * of five readings, each taken after a forced collection. The pauses let
    * Spark's context cleaner drop the broadcasts and shuffles the
    * collections released. */
  def retainedHeapMb(): Double = {
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    val readings = (1 to 5).map { _ =>
      System.gc()
      Thread.sleep(200)
      mem.getHeapMemoryUsage.getUsed / 1048576.0
    }
    System.err.println(s"[perfbench] heap readings MB: ${readings.map(r => f"$r%.1f").mkString(" ")}")
    Stats.median(readings)
  }
}
