package graft.core

import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
import org.apache.spark.sql.SparkSession

import java.nio.charset.StandardCharsets
import scala.jdk.CollectionConverters._

/** D11: the reference's `/metrics` + `/health` HTTP surface
  * (reference: src/observability.py:145-198) over the engine's
  * accumulator-backed [[Metrics]].
  *
  *  - `/metrics` renders Prometheus text exposition (counters named
  *    `graft_<metric>_total`) from the session's accumulators — the same
  *    counters the Spark UI/REST API already aggregates per stage — and
  *    from Spark's JVM-wide codegen counters
  *    (`graft_codegen_compiles_total`, `graft_codegen_compile_ms_total`).
  *  - `/health` returns the mutable health map as JSON; `status` of
  *    `failed`/`error` flips the response to 503 (load-balancer
  *    convention, observability.py:169-176).
  *
  * Built on the JDK's HttpServer: no extra dependency, daemon dispatcher
  * (started from a daemon thread so it cannot pin a finished JVM),
  * idempotent start.
  */
object Observability {

  /** C16: collapse dynamic Beacon API paths to bounded-cardinality route
    * labels (reference: src/observability.py:124-145
    * `normalize_api_endpoint`) — an unbounded per-slot label set would
    * blow up any Prometheus backend. */
  private val routePatterns: Seq[(scala.util.matching.Regex, String)] = Seq(
    "^/eth/v2/beacon/blocks/[^/]+$".r -> "/eth/v2/beacon/blocks/{block_id}",
    "^/eth/v1/beacon/rewards/blocks/[^/]+$".r -> "/eth/v1/beacon/rewards/blocks/{block_id}",
    "^/eth/v1/debug/beacon/data_column_sidecars/[^/]+$".r -> "/eth/v1/debug/beacon/data_column_sidecars/{slot}",
    "^/eth/v1/beacon/blobs/[^/]+$".r -> "/eth/v1/beacon/blobs/{block_id}",
    "^/eth/v1/beacon/states/[^/]+/validators$".r -> "/eth/v1/beacon/states/{state_id}/validators",
    "^/eth/v1/beacon/states/[^/]+/pending_consolidations$".r -> "/eth/v1/beacon/states/{state_id}/pending_consolidations",
    "^/eth/v1/beacon/states/[^/]+/pending_deposits$".r -> "/eth/v1/beacon/states/{state_id}/pending_deposits",
    "^/eth/v1/beacon/states/[^/]+/pending_partial_withdrawals$".r -> "/eth/v1/beacon/states/{state_id}/pending_partial_withdrawals",
  )

  def normalizeApiEndpoint(endpoint: String): String = {
    val path = endpoint.split("\\?", 2)(0)
    routePatterns.collectFirst {
      case (re, label) if re.matches(path) => label
    }.getOrElse(path)
  }

  private val healthState = scala.collection.concurrent.TrieMap[String, String](
    "status" -> "starting")
  @volatile private var server: Option[HttpServer] = None

  /** Thread-safe health update (reference `update_health`). */
  def updateHealth(kv: (String, String)*): Unit = healthState ++= kv

  /** Log + surface a component failure in `/health` — shared by the
    * streaming poll loops and the fused batch paths. A fused 10M-slot
    * backfill that fails must leave a diagnostic somewhere even though the
    * caller recovers via the per-chunk fallback. */
  def reportError(who: String, e: Throwable): Unit = {
    System.err.println(s"[graft] $who failed: $e")
    updateHealth(
      "last_error" -> s"$who: $e",
      "last_error_at" -> java.time.Instant.now().toString)
  }

  /** Benign-but-noteworthy conditions (e.g. a mixed chunk grid the code
    * handles correctly) — a SEPARATE health key, so they never clobber the
    * `last_error` diagnostic of a real failure. */
  def reportWarning(who: String, msg: String): Unit = {
    System.err.println(s"[graft] $who: $msg")
    updateHealth(
      "last_warning" -> s"$who: $msg",
      "last_warning_at" -> java.time.Instant.now().toString)
  }

  def health: Map[String, String] = healthState.toMap

  private[graft] def jsonEscape(s: String): String =
    s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }

  def healthJson: String = healthState.toSeq.sortBy(_._1)
    .map { case (k, v) => s""""${jsonEscape(k)}": "${jsonEscape(v)}"""" }
    .mkString("{", ", ", "}")

  // Process-level gauge registry (reference gauges chain_head_slot /
  // highest_raw_slot / chain_lag_slots, observability.py:37-58): the tail
  // loops push values per micro-batch; /metrics renders them merged with
  // any start()-time gauges closure. Bounded cardinality: names come from
  // the fixed loader registry.
  private val gaugeState = scala.collection.concurrent.TrieMap[String, Long]()

  def setGauges(kv: (String, Long)*): Unit = gaugeState ++= kv

  def gaugeValues: Map[String, Long] = gaugeState.toMap

  /** Prometheus text exposition of the engine and codegen counters plus
    * any gauges passed in (e.g. ingest lag). */
  def prometheusText(spark: SparkSession, gauges: Map[String, Long] = Map.empty): String = {
    val all = Metrics.report(spark) ++ Metrics.codegenReport
    val counters = all.toSeq.sortBy(_._1).map { case (k, v) =>
      val name = s"graft_${k}_total"
      s"# TYPE $name counter\n$name $v"
    }
    // per-endpoint request counters, labeled by normalized route (C16)
    val perEndpoint = {
      val m = Metrics.endpointReport(spark)
      if (m.isEmpty) Seq.empty
      else "# TYPE graft_api_requests_total counter" +:
        m.toSeq.sortBy(_._1).map { case (route, v) =>
          s"""graft_api_requests_total{endpoint="$route"} $v"""
        }
    }
    val gaugeLines = (gaugeState.toMap ++ gauges).toSeq.sortBy(_._1).map { case (k, v) =>
      val name = s"graft_$k"
      s"# TYPE $name gauge\n$name $v"
    }
    // latency histograms: cumulative le-buckets + _sum/_count, the
    // Prometheus histogram convention (reference observability.py:29-35,
    // 64-69 via prometheus_client.Histogram)
    val histLines = {
      val report = Metrics.histogramReport(spark)
      report.groupBy(_._1._1).toSeq.sortBy(_._1).flatMap { case (metric, entries) =>
        val labelKey =
          if (metric == "api_request_duration_seconds") "endpoint" else "label"
        s"# TYPE graft_$metric histogram" +:
          entries.toSeq.sortBy(_._1._2).flatMap { case ((_, label), snap) =>
            val cumulative = snap.counts.scanLeft(0L)(_ + _).tail
            snap.bucketsMillis.zipWithIndex.map { case (b, i) =>
              s"""graft_${metric}_bucket{$labelKey="$label",le="${b / 1000.0}"} ${cumulative(i)}"""
            }.toSeq ++ Seq(
              s"""graft_${metric}_bucket{$labelKey="$label",le="+Inf"} ${snap.n}""",
              s"""graft_${metric}_sum{$labelKey="$label"} ${snap.sumMillis / 1000.0}""",
              s"""graft_${metric}_count{$labelKey="$label"} ${snap.n}""")
          }
      }
    }
    (counters ++ perEndpoint ++ gaugeLines ++ histLines).mkString("", "\n", "\n")
  }

  /** Start the server (idempotent; port 0 = ephemeral). Returns the bound
    * port. */
  def start(spark: SparkSession, port: Int = 9090,
      gauges: () => Map[String, Long] = () => Map.empty): Int = synchronized {
    server match {
      case Some(s) =>
        // idempotent start returns the RUNNING server: a mismatched port
        // request (or fresh gauges closure) is ignored, which must not be
        // silent — the second caller would believe its port was honored
        val bound = s.getAddress.getPort
        if (port != 0 && port != bound)
          System.err.println(
            s"[graft] metrics server already on :$bound; ignoring request for :$port (and its gauges)")
        bound
      case None =>
        val s = HttpServer.create(new java.net.InetSocketAddress(port), 0)
        def respond(ex: HttpExchange, code: Int, contentType: String, body: String): Unit = {
          val bytes = body.getBytes(StandardCharsets.UTF_8)
          ex.getResponseHeaders.put("Content-Type", List(contentType).asJava)
          ex.sendResponseHeaders(code, bytes.length.toLong)
          val os = ex.getResponseBody
          try os.write(bytes) finally os.close()
        }
        s.createContext("/", (ex: HttpExchange) => ex.getRequestURI.getPath match {
          case "/metrics" =>
            respond(ex, 200, "text/plain; version=0.0.4; charset=utf-8",
              prometheusText(spark, gauges()))
          case "/health" =>
            val code =
              if (Set("failed", "error")(healthState.getOrElse("status", ""))) 503 else 200
            respond(ex, code, "application/json", healthJson)
          case _ => respond(ex, 404, "text/plain", "not found")
        })
        s.setExecutor(null) // default executor on the dispatch thread
        // the dispatcher thread inherits daemon status from the STARTING
        // thread — start from a daemon so a finished CLI run (e.g.
        // realtime --iterations N) can exit without an explicit stop()
        val starter = new Thread(() => s.start(), "graft-metrics-starter")
        starter.setDaemon(true)
        starter.start()
        starter.join()
        server = Some(s)
        updateHealth("status" -> "ok")
        s.getAddress.getPort
    }
  }

  def stop(): Unit = synchronized {
    server.foreach(_.stop(0))
    server = None
    healthState.clear()
    healthState += "status" -> "starting"
    // stale gauges from a previous run would render as live-but-stalled
    // loaders in a later /metrics exposition of the same JVM
    gaugeState.clear()
  }
}
