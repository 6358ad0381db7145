package graft

import graft.beacon.Loaders
import graft.core.Observability
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import java.net.http.{HttpClient, HttpRequest, HttpResponse}

/** /metrics + /health HTTP surface (D11) and the validators `id`-filter
  * query param (S3).
  */
class ObservabilitySpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark

  private def get(port: Int, path: String): HttpResponse[String] =
    HttpClient.newHttpClient().send(
      HttpRequest.newBuilder(java.net.URI.create(s"http://127.0.0.1:$port$path"))
        .GET().build(),
      HttpResponse.BodyHandlers.ofString())

  test("metrics server: Prometheus counters, health JSON, 503 on failure, 404 elsewhere") {
    val port = Observability.start(spark, 0, () => Map("ingest_lag_slots" -> 42L))
    try {
      graft.core.Metrics.of(spark).chunksCompleted.add(3)
      val m = get(port, "/metrics")
      assert(m.statusCode() === 200)
      assert(m.body().contains("# TYPE graft_chunks_completed_total counter"))
      assert(m.body().contains("graft_api_fetched_total"))
      assert(m.body().contains("# TYPE graft_ingest_lag_slots gauge"))
      assert(m.body().contains("graft_ingest_lag_slots 42"))
      val h = get(port, "/health")
      assert(h.statusCode() === 200)
      assert(h.body().contains("\"status\": \"ok\""))
      Observability.updateHealth("status" -> "failed", "last_error" -> "boom \"x\"")
      val bad = get(port, "/health")
      assert(bad.statusCode() === 503)
      assert(bad.body().contains("\\\"x\\\"")) // JSON escaping
      Observability.updateHealth("status" -> "ok")
      assert(get(port, "/nope").statusCode() === 404)
      // idempotent start returns the same bound port
      assert(Observability.start(spark, 0) === port)
    } finally Observability.stop()
  }

  test("codegen counters render in /metrics; a repeated query compiles nothing") {
    val port = Observability.start(spark, 0)
    def counter(name: String): Long = {
      val body = get(port, "/metrics").body()
      assert(body.contains(s"# TYPE $name counter"), body)
      body.linesIterator.collectFirst { case l if l.startsWith(s"$name ") => l.split(' ')(1).toLong }.get
    }
    try {
      val dir = java.nio.file.Files.createTempDirectory("graft_codegen_obs").toString
      spark.range(0, 1000).selectExpr("id", "id % 7 AS k").write.parquet(s"$dir/t")
      // the odd constant is inlined into the generated source, so the
      // first run compiles classes no earlier test compiled
      def query(): Unit = spark.read.parquet(s"$dir/t")
        .selectExpr("k", "id + 982451653 AS v").groupBy("k").sum("v").collect()
      val before = counter("graft_codegen_compiles_total")
      val msBefore = counter("graft_codegen_compile_ms_total")
      query()
      val first = counter("graft_codegen_compiles_total")
      assert(first > before)
      assert(counter("graft_codegen_compile_ms_total") >= msBefore)
      query()
      assert(counter("graft_codegen_compiles_total") === first)
      graft.core.Fs.deleteDir(spark, dir)
    } finally Observability.stop()
  }

  test("normalizeApiEndpoint collapses dynamic paths to bounded routes (C16)") {
    import graft.core.Observability.normalizeApiEndpoint
    assert(normalizeApiEndpoint("/eth/v2/beacon/blocks/123456")
      === "/eth/v2/beacon/blocks/{block_id}")
    assert(normalizeApiEndpoint("/eth/v1/beacon/states/98765/validators?id=1,2")
      === "/eth/v1/beacon/states/{state_id}/validators")
    assert(normalizeApiEndpoint("/eth/v1/beacon/states/head/pending_deposits")
      === "/eth/v1/beacon/states/{state_id}/pending_deposits")
    assert(normalizeApiEndpoint("/eth/v1/debug/beacon/data_column_sidecars/42")
      === "/eth/v1/debug/beacon/data_column_sidecars/{slot}")
    assert(normalizeApiEndpoint("/eth/v1/beacon/blobs/42")
      === "/eth/v1/beacon/blobs/{block_id}")
    assert(normalizeApiEndpoint("/eth/v1/beacon/rewards/blocks/7")
      === "/eth/v1/beacon/rewards/blocks/{block_id}")
    // unknown routes pass through query-stripped
    assert(normalizeApiEndpoint("/eth/v1/node/health?x=1") === "/eth/v1/node/health")
  }

  test("per-endpoint request counters surface in /metrics with route labels (C16)") {
    import graft.beacon._
    val port = Observability.start(spark, 0)
    try {
      val rawDir = java.nio.file.Files.createTempDirectory("graft_obs").toString + "/raw"
      RawIngest.fetchSlots(spark, 0L to 9L,
        MapSlotFetcher((0L to 9L).map(s => s -> "{}").toMap), 2).count()
      val m = get(port, "/metrics").body()
      assert(m.contains("""graft_api_requests_total{endpoint="offline"}"""), m)
    } finally Observability.stop()
  }

  test("LatencyHistogram: bucket placement, merge, cumulative Prometheus rendering") {
    import graft.core.Metrics
    val h = new Metrics.LatencyHistogram(Metrics.apiLatencyBucketsMillis)
    assert(h.isZero)
    h.add(10L)    // ≤50ms → bucket 0
    h.add(50L)    // boundary is INCLUSIVE (le semantics) → bucket 0
    h.add(51L)    // → bucket 1 (≤100ms)
    h.add(400000L) // beyond the last boundary → +Inf bucket
    val other = new Metrics.LatencyHistogram(Metrics.apiLatencyBucketsMillis)
    other.add(2000L) // → ≤2.5s bucket
    h.merge(other)
    val snap = h.value
    assert(snap.n === 5L)
    assert(snap.sumMillis === 10L + 50L + 51L + 400000L + 2000L)
    assert(snap.counts(0) === 2L)
    assert(snap.counts(1) === 1L)
    assert(snap.counts.last === 1L) // +Inf
    // cumulative le-buckets: every boundary ≥ the previous, ending at n
    val cumulative = snap.counts.scanLeft(0L)(_ + _).tail
    assert(cumulative.last === snap.n)
    assert(cumulative.toSeq === cumulative.sorted.toSeq)
  }

  test("fetch + chunk latency histograms surface in /metrics (reference histograms)") {
    import graft.beacon._
    val base = java.nio.file.Files.createTempDirectory("graft_hist").toString
    val payload = """{"version":"phase0","data":{"message":{"slot":"1","proposer_index":"1","parent_root":"0xp","state_root":"0xs","body":{"randao_reveal":"0xr","graffiti":"0x00","eth1_data":{"deposit_root":"0xd","deposit_count":"1","block_hash":"0xb"},"attestations":[],"deposits":[],"voluntary_exits":[],"proposer_slashings":[],"attester_slashings":[]}},"signature":"0xbs"}}"""
    val fetcher = MapSlotFetcher((0L to 9L).map(_ -> payload).toMap)
    assert(RawIngest.ingestChunk(spark, ChainConfig.gnosis, fetcher,
      s"$base/raw", LedgerStore(s"$base/cl"), "blocks", 0, 9))
    val report = graft.core.Metrics.histogramReport(spark)
    val api = report(("api_request_duration_seconds", "offline"))
    assert(api.n >= 10L) // one observation per fetched slot
    val chunk = report(("chunk_duration_seconds", "blocks/load"))
    assert(chunk.n >= 1L)
    val text = Observability.prometheusText(spark)
    assert(text.contains("# TYPE graft_api_request_duration_seconds histogram"))
    assert(text.contains("""graft_api_request_duration_seconds_bucket{endpoint="offline",le="+Inf"}"""))
    assert(text.contains("""graft_chunk_duration_seconds_bucket{label="blocks/load",le="+Inf"}"""))
    assert(text.contains("""graft_api_request_duration_seconds_count{endpoint="offline"}"""))
  }

  test("validators fetcher sends the comma-joined id filter (beacon_api.py:173-181)") {
    @volatile var seenQuery: String = null
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress(0), 0)
    server.createContext("/", (ex: com.sun.net.httpserver.HttpExchange) => {
      seenQuery = ex.getRequestURI.getQuery
      val body = """{"data":[]}""".getBytes("UTF-8")
      ex.sendResponseHeaders(200, body.length.toLong)
      val os = ex.getResponseBody
      try os.write(body) finally os.close()
    })
    server.start()
    try {
      val port = server.getAddress.getPort
      val f = Loaders.validatorsFetcher(
        s"http://127.0.0.1:$port", ids = Seq("1", "17", "0xabc"), apiKey = Some("k1"))
      assert(f.fetch(1234L).contains("""{"data":[]}"""))
      assert(seenQuery === "id=1,17,0xabc&api_key=k1")
      // no ids → no id param, key only
      Loaders.validatorsFetcher(s"http://127.0.0.1:$port", apiKey = Some("k1")).fetch(9L)
      assert(seenQuery === "api_key=k1")
      // neither → no query at all
      Loaders.validatorsFetcher(s"http://127.0.0.1:$port").fetch(9L)
      assert(seenQuery === null)
    } finally server.stop(0)
  }
}
