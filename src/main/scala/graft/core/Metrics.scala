package graft.core

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.util.LongAccumulator

/** D11 observability, Spark-native: the reference's Prometheus counters
  * (API requests, rows written, chunk transitions, ingest lag;
  * src/observability.py:20-198) become named `LongAccumulator`s — visible
  * in the Spark UI/REST metrics per stage, aggregated across executors,
  * and exportable to any sink via [[report]].
  */
object Metrics {

  /** `f`'s result and its wall seconds. */
  def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e9)
  }

  final case class EngineMetrics(
      apiFetched: LongAccumulator,
      apiEmpty: LongAccumulator,
      rowsWritten: LongAccumulator,
      chunksCompleted: LongAccumulator,
      chunksFailed: LongAccumulator)

  /** One per-session lazy registry shape shared by every metric family:
    * WeakHashMap keyed by session (sessions are GC-reclaimable), one lock,
    * construct-on-first-use. Keeping the locking discipline in one place —
    * three hand-rolled copies of this drifted once already. */
  private def perSession[V <: AnyRef](
      cache: java.util.WeakHashMap[SparkSession, V], spark: SparkSession)(
      mk: => V): V = cache.synchronized {
    Option(cache.get(spark)).getOrElse {
      val v = mk
      cache.put(spark, v)
      v
    }
  }

  private val cache = new java.util.WeakHashMap[SparkSession, EngineMetrics]()

  def of(spark: SparkSession): EngineMetrics = perSession(cache, spark) {
    val sc = spark.sparkContext
    EngineMetrics(
      sc.longAccumulator("graft.api.fetched"),
      sc.longAccumulator("graft.api.empty404"),
      sc.longAccumulator("graft.rows.written"),
      sc.longAccumulator("graft.chunks.completed"),
      sc.longAccumulator("graft.chunks.failed"))
  }

  def report(spark: SparkSession): Map[String, Long] = {
    val m = of(spark)
    Map(
      "api_fetched" -> m.apiFetched.value,
      "api_empty404" -> m.apiEmpty.value,
      "rows_written" -> m.rowsWritten.value,
      "chunks_completed" -> m.chunksCompleted.value,
      "chunks_failed" -> m.chunksFailed.value)
  }

  /** Spark's JVM-wide codegen counters since JVM start: generated classes
    * compiled (`CodegenMetrics`) and the milliseconds spent compiling them
    * (`CodeGenerator.compileTime`). A codegen cache hit adds to neither,
    * so a rise on a repeated call is a recompile. */
  def codegenReport: Map[String, Long] = Map(
    "codegen_compiles" -> CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
    "codegen_compile_ms" -> CodeGenerator.compileTime / 1000000L)

  // Per-endpoint request counters (reference labels its API counters by
  // normalized route, observability.py:124-145 — C16). Accumulators are
  // registered lazily per (session, route) on the driver and captured in
  // the fetch closures.
  private val endpointCache =
    new java.util.WeakHashMap[SparkSession, scala.collection.concurrent.TrieMap[String, LongAccumulator]]()

  def endpoint(spark: SparkSession, route: String): LongAccumulator = {
    val m = perSession(endpointCache, spark) {
      scala.collection.concurrent.TrieMap.empty[String, LongAccumulator]
    }
    // TrieMap.getOrElseUpdate is atomic for INSERTION, not thunk
    // evaluation: two concurrent first callers would each construct-and-
    // register an accumulator, orphaning the loser in Spark's registry.
    // Fast path stays lock-free; only first-use takes the lock.
    m.get(route).getOrElse(registrationLock.synchronized {
      m.getOrElseUpdate(route,
        spark.sparkContext.longAccumulator(s"graft.api.requests.$route"))
    })
  }

  /** Serializes accumulator construct-and-register (rare: first call per
    * key); shared by [[endpoint]] and [[histogram]]. */
  private val registrationLock = new Object

  def endpointReport(spark: SparkSession): Map[String, Long] =
    endpointCache.synchronized {
      Option(endpointCache.get(spark))
        .map(_.view.mapValues(_.value.longValue()).toMap).getOrElse(Map.empty)
    }

  // --- Latency histograms (reference: observability.py:20-75 ----------
  // api_request_duration_seconds / chunk_duration_seconds). Spark-native:
  // a custom AccumulatorV2 merges per-task bucket arrays on the driver,
  // so executor-side fetch timings aggregate exactly like the counters.

  /** Reference API_LATENCY_BUCKETS, in millis. */
  val apiLatencyBucketsMillis: Array[Long] =
    Array(50L, 100L, 250L, 500L, 1000L, 2500L, 5000L, 10000L, 30000L, 60000L, 120000L, 300000L)

  /** Reference CHUNK_DURATION_BUCKETS, in millis. */
  val chunkDurationBucketsMillis: Array[Long] =
    Array(500L, 1000L, 2500L, 5000L, 10000L, 30000L, 60000L, 120000L, 300000L, 600000L, 1800000L)

  /** Immutable histogram snapshot: per-bucket counts (last slot = +Inf),
    * observation count, and summed millis. */
  final case class HistogramSnapshot(
      bucketsMillis: Array[Long], counts: Array[Long], n: Long, sumMillis: Long)

  /** Fixed-bucket latency histogram accumulator (observations in millis).
    * add() is O(buckets) with no allocation — safe on the fetch hot path. */
  final class LatencyHistogram(val bucketsMillis: Array[Long])
      extends org.apache.spark.util.AccumulatorV2[java.lang.Long, HistogramSnapshot] {
    private val counts = new Array[Long](bucketsMillis.length + 1)
    private var n = 0L
    private var sumMillis = 0L
    override def isZero: Boolean = n == 0L
    override def copy(): LatencyHistogram = {
      val h = new LatencyHistogram(bucketsMillis)
      System.arraycopy(counts, 0, h.counts, 0, counts.length)
      h.n = n; h.sumMillis = sumMillis; h
    }
    override def reset(): Unit = {
      java.util.Arrays.fill(counts, 0L); n = 0L; sumMillis = 0L
    }
    override def add(v: java.lang.Long): Unit = {
      val millis = v.longValue()
      var i = 0
      while (i < bucketsMillis.length && millis > bucketsMillis(i)) i += 1
      counts(i) += 1; n += 1; sumMillis += millis
    }
    override def merge(other: org.apache.spark.util.AccumulatorV2[java.lang.Long, HistogramSnapshot]): Unit =
      other match {
        case h: LatencyHistogram =>
          var i = 0
          while (i < counts.length) { counts(i) += h.counts(i); i += 1 }
          n += h.n; sumMillis += h.sumMillis
        case _ => throw new UnsupportedOperationException(
          s"cannot merge ${other.getClass} into LatencyHistogram")
      }
    override def value: HistogramSnapshot =
      HistogramSnapshot(bucketsMillis, counts.clone(), n, sumMillis)
  }

  private val histogramCache =
    new java.util.WeakHashMap[SparkSession, scala.collection.concurrent.TrieMap[(String, String), LatencyHistogram]]()

  /** Lazily-registered named histogram, keyed (metric, label) — e.g.
    * ("api_request_duration_seconds", route) or
    * ("chunk_duration_seconds", "blocks/load"). */
  def histogram(
      spark: SparkSession, metric: String, label: String,
      buckets: Array[Long] = apiLatencyBucketsMillis): LatencyHistogram = {
    val m = perSession(histogramCache, spark) {
      scala.collection.concurrent.TrieMap.empty[(String, String), LatencyHistogram]
    }
    // same race as [[endpoint]]: registration must not run twice per key
    val h = m.get((metric, label)).getOrElse(registrationLock.synchronized {
      m.getOrElseUpdate((metric, label), {
        val fresh = new LatencyHistogram(buckets)
        spark.sparkContext.register(fresh, s"graft.$metric.$label")
        fresh
      })
    })
    // first caller wins the registration — a later caller with different
    // buckets (the default arg makes this an easy mistake) would
    // otherwise silently land observations in the wrong bucket layout
    require(java.util.Arrays.equals(h.bucketsMillis, buckets),
      s"histogram $metric/$label already registered with different buckets")
    h
  }

  def histogramReport(spark: SparkSession): Map[(String, String), HistogramSnapshot] =
    histogramCache.synchronized {
      Option(histogramCache.get(spark))
        .map(_.view.mapValues(_.value).toMap).getOrElse(Map.empty)
    }
}
