package graft
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // TOTAL WALL BUDGET (r17, VERDICT r16 item 2b): the retry-until-clean
    // machinery could sleep up to 3 min per flagged query × 40 × 3 passes
    // on a loaded box — r16's 32-core official run hit the DRIVER'S
    // timeout (rc=124) and the round lost its numbers entirely. The
    // budget caps the whole invocation: once exceeded, remaining retry
    // passes and settle-sleeps are skipped and the sweep emits what it
    // has, flagged `budget_exhausted` in the artifact. The main sweep
    // itself always times every query (a dropped query would be a
    // contract violation, not a time saving).
    val budgetSec = sys.env.get("SPARK_GRAFT_BENCH_BUDGET")
      .map(_.toDouble).getOrElse(1500.0)
    val benchT0 = System.nanoTime()
    def budgetLeftSec(): Double = budgetSec - (System.nanoTime() - benchT0) / 1e9
    // local-iteration filter: SPARK_GRAFT_ONLY=d5_minhash_lsh,d7_... runs
    // just those queries (driver passes nothing → full sweep)
    val only: Option[Set[String]] =
      sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    val spark = graft.core.Sessions.local(cpus.toInt)
    // absorb session/codegen warmup so the first timed query isn't charged for it
    spark.read.parquet(s"$sfDir/lineitem.parquet").limit(1000).count()
    // a failing query must surface in the JSON, not time as a fast no-op —
    // the bench keeps running (one broken query must not void the round's
    // numbers) but the error is named in an "errors" field
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    // RANDOMIZED run order (seed printed for reproduction): a fixed
    // alphabetical order charges each query a position-dependent JIT /
    // page-cache / GC inheritance from the same predecessors every round,
    // which showed up as unexplained ±50% round-over-round deltas on
    // sub-second queries. Shuffling decorrelates neighbors round-to-round;
    // median-of-3 per query still bounds within-round noise.
    val seed = sys.env.get("SPARK_GRAFT_BENCH_SEED").map(_.toLong)
      .getOrElse(System.nanoTime())
    val rng = new scala.util.Random(seed)
    val ordered = rng.shuffle(
      SparkEntry.queries.toSeq
        .filter { case (name, _) => only.forall(_.contains(name)) }
        .sortBy(_._1))
    // LOAD GUARD: r9's official bench ran on a busy machine and overstated
    // every wall time 2–4× — a judge couldn't tell regression from noise.
    // Sample /proc/loadavg (1-min field) before the sweep and every ~20
    // queries; when the box is loaded beyond cpus/4, sleep-retry ONCE per
    // checkpoint to let the spike pass, and ALWAYS record the samples in
    // the artifact so a hot run is self-describing.
    def loadAvg(): Double =
      try java.nio.file.Files.readString(java.nio.file.Paths.get("/proc/loadavg"))
        .split("\\s+")(0).toDouble
      catch { case _: Throwable => -1.0 }
    // INSTANTANEOUS contention probe (r15): the 1-min load average is a
    // trailing indicator — right after this sweep's own 32-thread burst it
    // reads high while the CPUs are actually idle, and a decayed average
    // cannot inflate the NEXT measurement. What can is work runnable NOW:
    // /proc/loadavg field 4 is "runnable/total" at this instant. Min over
    // a few spaced samples of (runnable − THIS JVM's runnable threads) —
    // subtracting a flat 1 for "self" under-counts whenever a GC or Spark
    // daemon thread happens to be on-CPU at the sample instant, tagging a
    // genuinely quiet box as contended and triggering spurious retry
    // passes (keep-min makes the timings safe either way; this keeps the
    // contended_queries artifact honest). Sustained external load stays
    // > 0 across the spaced samples; our own parked executors read 0.
    def runnableOthers(): Int = {
      def ownRunnable(): Int = {
        // RUNNABLE JVM threads ≈ our contribution to the kernel's
        // runnable count (an upper bound: a RUNNABLE Java thread may be
        // briefly off-CPU — erring high only makes the probe LESS likely
        // to cry contention, the safe direction)
        val it = Thread.getAllStackTraces.keySet.iterator()
        var n = 0
        while (it.hasNext) {
          if (it.next().getState == Thread.State.RUNNABLE) n += 1
        }
        math.max(1, n) // this sampling thread is itself RUNNABLE
      }
      def once(): Int =
        try {
          val f = java.nio.file.Files.readString(java.nio.file.Paths.get("/proc/loadavg"))
            .split("\\s+")(3).split("/")(0).toInt
          math.max(0, f - ownRunnable())
        } catch { case _: Throwable => 0 }
      (0 until 3).map { i => if (i > 0) Thread.sleep(150); once() }.min
    }
    // r10 lesson: the cpus/4 threshold let background load 2-6 inflate
    // CPU-bound queries up to 7x while still "passing" the guard — 2.0
    // absolute is the tightest level that doesn't trip on the JVM's own
    // settling tail
    val loadLimit = math.min(cpus.toDouble / 4.0, 2.0)
    // loop-until-settled (bounded): ONE 30 s sleep often returns while the
    // 1-min average is still digesting the previous burst — the r15 retry
    // pass needs a genuinely settled start, not a single nap
    def guardLoad(maxSleeps: Int = 1): Double = {
      var l = loadAvg()
      var i = 0
      while (l > loadLimit && i < maxSleeps) {
        Thread.sleep(30000); l = loadAvg(); i += 1
      }
      l
    }
    // CALIBRATION CONSTANT: the same box drifts 5-7x round-over-round on
    // CPU-bound shapes with identical code (r9->r10 evidence), so absolute
    // cross-round comparison is meaningless. A fixed deterministic kernel
    // — the a2 aggregation shape over generated data, median of 3 after
    // one warmup — is timed before AND after the sweep and emitted in the
    // artifact; dividing any query's time by calib yields a
    // machine-normalized ratio that IS comparable across rounds (and the
    // before/after pair self-reports load arriving mid-sweep).
    def calibOnce(): Double = {
      spark.catalog.clearCache()
      val t0 = System.nanoTime()
      spark.range(0L, 4000000L, 1L, cpus.toInt)
        .select(col("id"),
          pmod(col("id"), lit(7L)).as("k1"),
          pmod(col("id"), lit(3L)).as("k2"),
          (pmod(col("id"), lit(100L))).cast("double").as("v"))
        .groupBy("k1", "k2")
        .agg(count(lit(1)).as("n"), sum("v").as("s"), avg("v").as("a"),
          sum(col("v") * (lit(1.0) - col("v") / 200.0)).as("w"))
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    def calib(): Double = {
      calibOnce()
      val t = Seq(calibOnce(), calibOnce(), calibOnce()).sorted
      t(1)
    }
    // SPIKE-RETRY REFERENCE: the last committed quiet sweep
    // (bench_times.json). r11 evidence: the calibration pair DIAGNOSED
    // start-of-sweep contention (calib 0.33 → 0.13) but couldn't repair
    // the three queries it inflated 3–5×. The fix is a post-sweep pass:
    // any query whose median exceeds ~3× its committed quiet time
    // (calib-scaled — the box drifts 5–7× round-over-round on identical
    // code) is re-timed once after the load guard clears, keeping the
    // minimum of the two medians. Per-query load samples make every
    // residual outlier self-describing.
    val refTimesAndCalib: Option[(Map[String, Double], Double)] =
      try {
        val p = java.nio.file.Paths.get("bench_times.json")
        if (!java.nio.file.Files.exists(p)) None
        else {
          val om = new com.fasterxml.jackson.databind.ObjectMapper()
          val root = om.readTree(java.nio.file.Files.readString(p))
          val m = scala.collection.mutable.LinkedHashMap[String, Double]()
          val it = root.get("queries").fields()
          while (it.hasNext) {
            val e = it.next(); m(e.getKey) = e.getValue.asDouble()
          }
          val cb = Option(root.get("calib_before_sec")).map(_.asDouble()).getOrElse(-1.0)
          val ca = Option(root.get("calib_after_sec")).map(_.asDouble()).getOrElse(-1.0)
          // quiet-run machine speed = the better of its two calib readings
          val c = Seq(cb, ca).filter(_ > 0) match {
            case Nil => -1.0; case xs => xs.min
          }
          // the committed times are only a valid yardstick at the SAME
          // scale factor (a local sf0.001 run vs the sf0.1 reference
          // would never — or always — flag) AND the same core count
          // (r17: the r16 driver's 8-core leg overwrote the file, and
          // 8-core times are a 1.1–13× biased yardstick for a 32-core
          // sweep; files without a cpus field predate the tag — treat
          // them as matching so an old reference still beats none)
          val sameSf = Option(root.get("sf")).map(_.asText()).contains(sfDir)
          val sameCpus = Option(root.get("cpus")).forall(_.asText() == cpus)
          if (c > 0 && m.nonEmpty && sameSf && sameCpus) Some((m.toMap, c))
          else None
        }
      } catch { case _: Throwable => None }
    val loadBefore = guardLoad()
    val calibBefore = calib()
    val loadSamples = scala.collection.mutable.ArrayBuffer[Double]()
    val results = scala.collection.mutable.LinkedHashMap[String, Double]()
    val loadPerQuery = scala.collection.mutable.LinkedHashMap[String, Double]()
    val runnablePerQuery = scala.collection.mutable.LinkedHashMap[String, Int]()
    def runOnce(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      // ops that persist their result (LSH pair frames) must not feed a
      // later run from cache, and a prior query's cache must not skew
      // this one — every run starts cache-clean
      spark.catalog.clearCache()
      val t0 = System.nanoTime()
      // noop sink forces evaluation of EVERY output column — .count()
      // would let Catalyst prune projection-only compute to nothing
      try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      catch {
        case e: Throwable =>
          errors.getOrElseUpdate(name,
            s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(120)}")
      }
      (System.nanoTime() - t0) / 1e9
    }
    def medianOf3(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      // one warmup (plan compile + JIT + page cache) then median-of-3 so a
      // single noisy run can't swing the per-query signal ±20%
      runOnce(name, fn)
      val timed = Seq(runOnce(name, fn), runOnce(name, fn), runOnce(name, fn)).sorted
      timed(1)
    }
    var sinceLoadCheck = 0
    ordered.foreach { case (name, fn) =>
      sinceLoadCheck += 1
      if (sinceLoadCheck >= 20) { sinceLoadCheck = 0; loadSamples += guardLoad() }
      // sample the ENVIRONMENT load BEFORE the timed runs (r15): a
      // post-query sample mostly reads the query's OWN 32-thread burst
      // still decaying out of the 1-min average — heavy queries then
      // look permanently "contaminated" and the retry loop churns on
      // measurements that were actually clean. The pre-sample certifies
      // the conditions the timing started under, which is the thing a
      // quiet baseline needs to prove. The runnable probe (only taken
      // when the average reads high — free on a quiet box) separates a
      // decaying own-burst from real concurrent work.
      val pre = loadAvg()
      loadPerQuery(name) = pre
      runnablePerQuery(name) = if (pre > loadLimit) runnableOthers() else 0
      results(name) = medianOf3(name, fn)
    }
    // post-sweep spike retry — RETRY-UNTIL-CLEAN (r15): the r14 "quiet"
    // baseline still carried queries measured at loadavg up to 7.99
    // after its single retry pass, which muddied the next round's
    // regression signal. Loop retry passes until NO query's recorded
    // loadavg exceeds the guard limit and no query trips the time arms
    // (capped passes — a persistently busy box can't converge, and the
    // artifact's load samples make that self-describing).
    val retriedFrom = scala.collection.mutable.LinkedHashMap[String, Double]()
    var calibRetry = -1.0
    var retryPasses = 0
    val byName = ordered.toMap
    // a query is DIRTY when (a) it exceeds 3× its calib-scaled quiet
    // time — load sample or not, something inflated it; (b) its own
    // recorded pre-load exceeded the guard limit AND it ran >1.3× quiet
    // (r12 evidence: g4 sat at 1.8× quiet under load with only the 3×
    // arm); or (c) its measurement STARTED under real external
    // contention — pre-load over the limit AND the runnable probe saw
    // concurrent work — regardless of the wall (r14 evidence: a
    // committed "quiet" baseline must not carry contaminated
    // measurements). (c) also covers queries absent from the committed
    // reference (new this round), which the time arms can't see.
    def dirty(refTimes: Map[String, Double], scale: Double,
        loadArmScale: Double): Seq[(String, Double)] =
      results.toSeq.filter { case (name, t) =>
        !errors.contains(name) && {
          val overLoad = loadPerQuery.getOrElse(name, 0.0) > loadLimit
          val contended = overLoad && runnablePerQuery.getOrElse(name, 0) > 0
          refTimes.get(name).exists { rt =>
            t > 3.0 * rt * scale ||
              (overLoad && t > 1.3 * rt * loadArmScale)
          } || contended
        }
      }
    val maxPasses = 3
    var pass = 0
    var continue = true
    var budgetExhausted = false
    while (pass < maxPasses && continue && !budgetExhausted) {
      continue = false
      // retry passes live INSIDE the wall budget: each settle-wait can
      // sleep minutes, and a contended box must not run the driver into
      // its own timeout (r16 rc=124). Keep-min semantics mean skipped
      // retries only leave a (flagged) pessimistic reading, never a
      // wrong one.
      if (budgetLeftSec() <= 0) { budgetExhausted = true }
      else {
      // r13 evidence: calibBefore was measured DURING a start-of-sweep
      // load spike (1.026 vs 0.203 after) → a scale of 8.76× meant no
      // query could ever trip either retry arm while 204/259 ran at
      // loadavg > 2. The retry pass already waits for the load guard, so
      // a settled calib is available exactly when the thresholds are
      // applied: measure one per pass and take the MIN of all readings
      // as the machine speed (a contaminated calib only ever reads HIGH).
      loadSamples += guardLoad()
      val c = calib()
      calibRetry = if (calibRetry < 0) c else math.min(calibRetry, c)
      val (refTimes, refCalib) = refTimesAndCalib
        .getOrElse((Map.empty[String, Double], -1.0))
      val scale =
        if (refCalib > 0)
          math.max(math.min(calibBefore, calibRetry) / refCalib, 0.5)
        else 1.0
      // when the two calibs disagree >2× the sweep was contaminated —
      // trust the committed quiet times UNSCALED on the loadavg arm
      // (over-flagging is harmless: retries keep the min, capped at 40)
      val loadArmScale =
        if (math.max(calibBefore, calibRetry) >
          2.0 * math.min(calibBefore, calibRetry)) math.min(scale, 1.0)
        else scale
      val flagged = dirty(refTimes, scale, loadArmScale)
        .sortBy(-_._2).take(40)
      if (flagged.nonEmpty) {
        retryPasses += 1
        continue = true
        flagged.foreach { case (name, t) =>
          if (!budgetExhausted && budgetLeftSec() <= 0) budgetExhausted = true
          if (!budgetExhausted) {
            // settle HARD before re-timing (up to 3 minutes): the retry
            // exists to produce a certified-clean measurement, and its
            // recorded pre-load/probe is what clears arm (c) next pass
            val pre = guardLoad(maxSleeps = 6)
            loadSamples += pre
            loadPerQuery(name) = pre
            runnablePerQuery(name) = if (pre > loadLimit) runnableOthers() else 0
            val t2 = medianOf3(name, byName(name))
            if (t2 < t) { retriedFrom(name) = t; results(name) = t2 }
          }
        }
      }
      }
      pass += 1
    }
    // stable (sorted) key order in both JSON artifacts so diffs between
    // rounds line up even though execution order was shuffled
    val qs = results.toSeq.sortBy(_._1).map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = if (results.nonEmpty) results.values.sum else 0.0
    val errJson = errors.map { case (k, v) =>
      s"\"" + k + "\":\"" + v.replaceAll("[\"\\\\\n\r\t]", " ") + "\""
    }.mkString("{", ",", "}")
    val loadAfter = loadAvg()
    val calibAfter = calib()
    val samplesJson = loadSamples.map(l => f"$l%.2f").mkString("[", ",", "]")
    val loadQJson = loadPerQuery.toSeq.sortBy(_._1)
      .map { case (k, v) => s"\"" + k + "\":" + f"$v%.2f" }
      .mkString("{", ",", "}")
    // only queries whose pre-load read high AND whose probe saw real
    // concurrent work — empty on a genuinely quiet sweep
    val contendedJson = runnablePerQuery.toSeq
      .filter { case (k, v) => v > 0 && loadPerQuery.getOrElse(k, 0.0) > loadLimit }
      .sortBy(_._1)
      .map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val retriedJson = retriedFrom.toSeq.sortBy(_._1)
      .map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val line =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"n_errors":${errors.size},"errors":$errJson,"seed":$seed,"cpus":"$cpus","budget_sec":$budgetSec,"budget_exhausted":$budgetExhausted,"load_before":$loadBefore,"load_after":$loadAfter,"load_samples":$samplesJson,"load_per_query":$loadQJson,"contended_queries":$contendedJson,"retried_from":$retriedJson,"retry_passes":$retryPasses,"calib_before_sec":$calibBefore,"calib_retry_sec":$calibRetry,"calib_after_sec":$calibAfter,"sf":"$sfDir"}"""
    // the driver's BENCH_r{N}.json keeps only a 2,000-char stdout tail —
    // too short for 266 per-query timings — so the full artifact is ALSO
    // written into the repo for per-round review (full sweeps at the
    // driver's sf0.1 only: a filtered or small-sf local run must not
    // overwrite the round's numbers — the retry baseline is sf-matched,
    // so a stored sf0.001 line would silently disable it). r17: a run at
    // a DIFFERENT core count never overwrites an existing tagged
    // reference — the driver's low-core scaling leg used to clobber the
    // 32-core yardstick (the committed r16 file was the 8-core leg's).
    val writeRef = only.isEmpty && sfDir.endsWith("sf0.1") && {
      try {
        val p = java.nio.file.Paths.get("bench_times.json")
        !java.nio.file.Files.exists(p) || {
          val om = new com.fasterxml.jackson.databind.ObjectMapper()
          val root = om.readTree(java.nio.file.Files.readString(p))
          Option(root.get("cpus")).forall(_.asText() == cpus)
        }
      } catch { case _: Throwable => true }
    }
    if (writeRef)
      try java.nio.file.Files.writeString(
        java.nio.file.Paths.get("bench_times.json"), line + "\n")
      catch { case e: Throwable =>
        System.err.println(s"[bench] bench_times.json write failed: ${e.getMessage}") }
    println(line)
    // SHORT summary line, printed LAST (r17, VERDICT r16 item 2a): the
    // full line above is ~10 KB for 266 queries and the driver keeps a
    // 2,000-char stdout tail, so for four rounds the official 32-core
    // numbers arrived unparseable (BENCH_r13..r16 `parsed: null`). This
    // line is ≤300 chars — any tail carries it — and keeps the contract
    // fields; the per-query map lives in the full line and in
    // bench_times.json. This is a measurement-REPORTING fix only: the
    // timing methodology and the full line are unchanged.
    val summary =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":{},"n":${results.size},"n_errors":${errors.size},"retry_passes":$retryPasses,"budget_exhausted":$budgetExhausted,"cpus":"$cpus","calib_before_sec":$calibBefore,"calib_retry_sec":$calibRetry,"calib_after_sec":$calibAfter,"sf":"$sfDir"}"""
    println(summary)
    spark.stop()
  }
}
