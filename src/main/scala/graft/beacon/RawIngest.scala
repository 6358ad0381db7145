package graft.beacon

import graft.functions.CanonicalJson
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Per-slot payload fetch, executor-side (S1–S8). Implementations MUST be
  * serializable — one instance is shipped to each task and drives the
  * HTTP client for that partition's slots.
  */
trait SlotFetcher extends Serializable {
  /** None = empty slot (404-as-empty, normal for missed blocks;
    * reference: src/loaders/base.py:51-58). Throw for hard errors. */
  def fetch(slot: Long): Option[String]
}

/** The ONE GET-with-retry state machine every HTTP surface shares
  * (reference retry policy, beacon_api.py:44-159): linear-increasing
  * backoff on retryable statuses (5xx, 408, 429) and IO errors; any
  * other status — including 404 — returns immediately for the caller to
  * map per its own mode. Hard 4xx misconfigurations (401/403/wrong URL)
  * fail fast instead of stalling through the backoff ladder. */
private[beacon] object HttpRetry {
  def get(
      client: java.net.http.HttpClient, uri: java.net.URI,
      timeoutMillis: Long, maxRetries: Int, backoffMillis: Long): (Int, String) = {
    var attempt = 0
    while (true) {
      attempt += 1
      try {
        val req = java.net.http.HttpRequest.newBuilder(uri)
          .timeout(java.time.Duration.ofMillis(timeoutMillis)).GET().build()
        val resp = client.send(req, java.net.http.HttpResponse.BodyHandlers.ofString())
        val code = resp.statusCode()
        val retryable = code >= 500 || code == 408 || code == 429
        if (!retryable || attempt > maxRetries) return (code, resp.body())
        Thread.sleep(backoffMillis * attempt)
      } catch {
        case e: java.io.IOException =>
          if (attempt > maxRetries) throw e
          Thread.sleep(backoffMillis * attempt)
      }
    }
    sys.error("unreachable")
  }
}

/** S1: beacon-node HTTP GET with the reference's retry policy — 3 retries,
  * linearly increasing backoff, 404-as-empty vs 404-as-error modes, API
  * key as query param (reference: src/services/beacon_api.py:44-159).
  * Endpoint template contains `{slot}`.
  */
final case class HttpSlotFetcher(
    baseUrl: String,
    endpointTemplate: String,
    allowEmpty404: Boolean = true,
    apiKey: Option[String] = None,
    maxRetries: Int = 3,
    backoffMillis: Long = 5000L,
    timeoutMillis: Long = 600000L,
    /** extra query params, e.g. the validators `id` filter
      * (reference: beacon_api.py:173-181). */
    extraQuery: Seq[String] = Nil) extends SlotFetcher {

  @transient private lazy val client =
    java.net.http.HttpClient.newBuilder()
      .connectTimeout(java.time.Duration.ofMillis(timeoutMillis))
      .build()

  def fetch(slot: Long): Option[String] = {
    val path = endpointTemplate.replace("{slot}", slot.toString)
    val params = extraQuery ++ apiKey.map(k => s"api_key=$k").toSeq
    val qp = if (params.isEmpty) "" else params.mkString("?", "&", "")
    val uri = java.net.URI.create(s"$baseUrl$path$qp")
    HttpRetry.get(client, uri, timeoutMillis, maxRetries, backoffMillis) match {
      case (200, body) => Some(body)
      case (404, _) if allowEmpty404 => None
      case (404, _) => throw new RuntimeException(s"404 for $uri (state must exist)")
      case (code, _) => throw new RuntimeException(s"HTTP $code for $uri")
    }
  }
}

/** Test/offline fetcher over an in-memory slot→payload map. */
final case class MapSlotFetcher(payloads: Map[Long, String]) extends SlotFetcher {
  def fetch(slot: Long): Option[String] = payloads.get(slot)
}

/** Raw-table ingest: the Spark shape of the reference's backfill worker
  * loop (SURVEY §3.1) in one stage with no shuffle — the driver cuts the
  * slot ranges into `parallelism` contiguous slices, each task fetches its
  * slice's slots in order, `prepare_row`s them (payload hash C3) and
  * writes month-partitioned parquet; then the ledger append. Each slot is
  * fetched once per call, so same-batch payload-hash dedup (F4) holds by
  * construction.
  */
object RawIngest {

  /** Bounded-cardinality metrics route for a fetcher (C16; reference:
    * observability.py:124-145 — labels by normalized endpoint). */
  private def routeOf(fetcher: SlotFetcher): String = fetcher match {
    case h: HttpSlotFetcher =>
      graft.core.Observability.normalizeApiEndpoint(
        h.endpointTemplate.replace("{slot}", "0"))
    case _ => "offline"
  }

  /** Fetch a slot list into raw rows, each distinct slot once. Partition
    * count bounds concurrent HTTP connections (the reference's
    * BACKFILL_WORKERS knob, D2). */
  def fetchSlots(
      spark: SparkSession, slots: Seq[Long], fetcher: SlotFetcher,
      parallelism: Int = 4): DataFrame =
    fetchRanges(spark, slots.map(s => (s, s)), fetcher, parallelism)

  /** Big-payload variant of [[fetchSlots]] (validators snapshots): the
    * canonical `payload_hash` is computed on the INTACT payload, then the
    * `data[]` array is split into ≤ `entriesPerPart` parts via a streaming
    * parse ([[PayloadSplitter]]) when the payload exceeds
    * `splitThresholdBytes`. Output adds (part_index, part_count); all
    * downstream `from_json`+`explode` parsers work per part unchanged.
    */
  def fetchSlotsSplit(
      spark: SparkSession, slots: Seq[Long], fetcher: SlotFetcher,
      parallelism: Int = 4, splitThresholdBytes: Int = 8 << 20,
      entriesPerPart: Int = 50000): DataFrame =
    fetchRanges(spark, slots.map(s => (s, s)), fetcher, parallelism, split = true,
      splitThresholdBytes = splitThresholdBytes, entriesPerPart = entriesPerPart)

  /** Fetch every slot of the inclusive `ranges` that `gate` passes, each
    * once however the ranges overlap, as one task per slice of
    * [[slices]] — large backfills never materialize their slots. `split`
    * adds the part columns of [[fetchSlotsSplit]]. */
  def fetchRanges(
      spark: SparkSession, ranges: Seq[(Long, Long)], fetcher: SlotFetcher,
      parallelism: Int = 4, gate: Option[Long => Boolean] = None,
      split: Boolean = false, splitThresholdBytes: Int = 8 << 20,
      entriesPerPart: Int = 50000): DataFrame = {
    import spark.implicits._
    val m = graft.core.Metrics.of(spark)
    val byEndpoint = graft.core.Metrics.endpoint(spark, routeOf(fetcher))
    // per-endpoint latency histogram (reference
    // api_request_duration_seconds, observability.py:29-35): accumulator
    // merges per-task bucket arrays driver-side
    val latency = graft.core.Metrics.histogram(
      spark, "api_request_duration_seconds", routeOf(fetcher))
    val parts = slices(ranges, gate, parallelism)
    val keep = gate.getOrElse((_: Long) => true)
    val rows = spark.sparkContext.parallelize(parts, parts.length).mapPartitions { it =>
      for {
        slice <- it
        (s, e) <- slice.iterator
        slot <- (s to e).iterator if keep(slot)
        row <- {
          val t0 = System.nanoTime()
          val fetched = fetcher.fetch(slot)
          latency.add((System.nanoTime() - t0) / 1000000L)
          byEndpoint.add(1)
          if (fetched.isEmpty) m.apiEmpty.add(1) else m.apiFetched.add(1)
          fetched.iterator.flatMap { payload =>
            val hash = CanonicalJson.payloadHash16(payload)
            val ts = new java.sql.Timestamp(System.currentTimeMillis())
            val pieces =
              if (split && payload.length >= splitThresholdBytes)
                PayloadSplitter.split(payload, entriesPerPart)
              else Seq(payload)
            pieces.iterator.zipWithIndex.map { case (p, i) =>
              (slot, p, hash, ts, i, pieces.length)
            }
          }
        }
      } yield row
    }.toDF("slot", "payload", "payload_hash", "retrieved_at", "part_index", "part_count")
    if (split) rows else rows.drop("part_index", "part_count")
  }

  /** Cuts the union of the inclusive `ranges` (overlapping and adjacent
    * ones merge, inverted ones are empty) into exactly `n` contiguous
    * slices in slot order, balanced on the slots `gate` passes: slice i
    * holds passing slots number ⌊i·G/n⌋ until ⌊(i+1)·G/n⌋ of G. With a
    * gate the driver walks the slots, holding none of them, to count G
    * and find the cuts; without one the cuts are arithmetic. */
  private[graft] def slices(
      ranges: Seq[(Long, Long)], gate: Option[Long => Boolean],
      n: Int): Vector[Vector[(Long, Long)]] = {
    require(n >= 1, s"parallelism must be >= 1, got $n")
    val merged = ranges.filter { case (s, e) => s <= e }.sortBy(_._1)
      .foldLeft(Vector.empty[(Long, Long)]) {
        case (acc :+ ((s, e)), (s2, e2)) if s2 <= e + 1 => acc :+ ((s, math.max(e, e2)))
        case (acc, r) => acc :+ r
      }
    // visits the slots `g` passes, in order, until `f` returns false
    def passing(g: Long => Boolean)(f: Long => Boolean): Unit = {
      val it = merged.iterator
      var go = true
      while (go && it.hasNext) {
        val (s, e) = it.next()
        var x = s
        while (go && x <= e) { if (g(x)) go = f(x); x += 1 }
      }
    }
    val total = gate match {
      case Some(g) =>
        var c = 0L
        passing(g) { _ => c += 1; true }
        c
      case None => merged.map { case (s, e) => e - s + 1 }.sum
    }
    // ordinal (among passing slots) of the first slot of slices 1 … n-1
    val targets = (1 until n).map(i => total / n * i + total % n * i / n)
    // the slot at each target; Long.MaxValue: no such slot
    val cuts = Array.fill(n - 1)(Long.MaxValue)
    gate match {
      case Some(g) =>
        var j = 0
        var ord = 0L
        passing(g) { slot =>
          while (j < cuts.length && targets(j) == ord) { cuts(j) = slot; j += 1 }
          ord += 1
          j < cuts.length
        }
      case None =>
        val starts = merged.scanLeft(0L) { case (acc, (s, e)) => acc + e - s + 1 }
        targets.zipWithIndex.foreach { case (t, j) =>
          val k = starts.lastIndexWhere(_ <= t)
          if (k < merged.length) cuts(j) = merged(k)._1 + (t - starts(k))
        }
    }
    val bounds = (Long.MinValue +: cuts) :+ Long.MaxValue
    bounds.zip(bounds.tail).map { case (lo, hi) =>
      merged.flatMap { case (s, e) =>
        val a = math.max(s, lo)
        val b = math.min(e, hi - 1)
        if (a <= b) Some((a, b)) else None
      }
    }.toVector
  }

  /** Month-partitioned raw write (reference partitions every table by
    * `toStartOfMonth(slot_timestamp)`; migrations/003_raw_tables.sql:16).
    * Precondition: at most one row per (slot, part_index) — the fetch
    * functions above fetch each slot once per call, which is the
    * same-batch dedup (F4). Sorting within partitions by (month, slot) is
    * the ordering Spark's file writer requires for `partitionBy("month")`,
    * so it adds no sort of its own, and each file is in slot order: parquet
    * min/max stats prune slot-range scans (the ORDER BY slot clustered-key
    * equivalent, SURVEY §4).
    */
  def writeRaw(rows: DataFrame, cfg: ChainConfig, rawDir: String): Unit =
    rows
      .withColumn("month", date_format(cfg.slotTimestamp(col("slot")), "yyyy-MM"))
      .sortWithinPartitions((Seq("month", "slot") ++
        (if (rows.columns.contains("part_index")) Seq("part_index") else Nil)).map(col): _*)
      .write.mode(SaveMode.Append)
      .partitionBy("month")
      .parquet(rawDir)

  /** Full chunk ingest: fetch → write → ledger transition. Failed fetches
    * fail the whole chunk (reference error policy: base.py:87-100).
    * `split` adds the part columns of [[fetchSlotsSplit]] for mega-payload
    * loaders (P19 — validators snapshots). */
  def ingestChunk(
      spark: SparkSession, cfg: ChainConfig, fetcher: SlotFetcher,
      rawDir: String, ledger: LedgerStore, loader: String,
      startSlot: Long, endSlot: Long, parallelism: Int = 4,
      version: Long = System.currentTimeMillis(),
      split: Boolean = false,
      gate: Option[Long => Boolean] = None): Boolean = {
    val chunk = Ledger.chunkRow(spark, loader, startSlot, endSlot)
    ledger.append(Ledger.transition(chunk, "claimed", "spark", version))
    // chunk_duration_seconds{loader/load} (reference observability.py:64-69)
    val t0 = System.nanoTime()
    try {
      writeRaw(fetchRanges(spark, Seq((startSlot, endSlot)), fetcher, parallelism, gate, split),
        cfg, rawDir)
      ledger.append(Ledger.transition(chunk, "completed", "spark", version + 1))
      graft.core.Metrics.of(spark).chunksCompleted.add(1)
      graft.core.Metrics.histogram(spark, "chunk_duration_seconds", s"$loader/load",
        graft.core.Metrics.chunkDurationBucketsMillis)
        .add((System.nanoTime() - t0) / 1000000L)
      true
    } catch {
      case scala.util.control.NonFatal(_) =>
        // failed chunks observe their duration too: the pathological
        // retry-then-fail tail is exactly what a p99 dashboard must show
        graft.core.Metrics.histogram(spark, "chunk_duration_seconds", s"$loader/load",
          graft.core.Metrics.chunkDurationBucketsMillis)
          .add((System.nanoTime() - t0) / 1000000L)
        ledger.append(Ledger.transition(chunk, "failed", "spark", version + 1))
        graft.core.Metrics.of(spark).chunksFailed.add(1)
        false
    }
  }

  /** D2 at scale: ingest MANY chunks as ONE Spark job — the union of all
    * ranges' slots goes through a single [[fetchRanges]] (Spark's task
    * scheduler IS the worker pool; `parallelism` bounds concurrent HTTP
    * connections exactly like the reference's BACKFILL_WORKERS,
    * loader.py:463-485), one [[writeRaw]], and bulk ledger transitions
    * (one append per status, not per chunk). All-or-nothing: a hard fetch
    * error fails the whole batch and the caller falls back to per-chunk
    * [[ingestChunk]] for failure isolation. */
  def ingestChunksFused(
      spark: SparkSession, cfg: ChainConfig, fetcher: SlotFetcher,
      rawDir: String, ledger: LedgerStore, loader: String,
      ranges: Seq[(Long, Long)], parallelism: Int = 4,
      version: Long = System.currentTimeMillis(),
      split: Boolean = false,
      gate: Option[Long => Boolean] = None): Boolean = {
    if (ranges.isEmpty) return true
    val chunks = Ledger.chunkRows(spark, loader, ranges)
    ledger.append(Ledger.transition(chunks, "claimed", "spark-fused", version))
    try {
      // the driver holds only the RANGES (a 10M-slot backfill must not
      // become a 10M-element collection); the loader's fetch gate (fork
      // floor / daily-only) balances the slices and filters executor-side
      writeRaw(fetchRanges(spark, ranges, fetcher, parallelism, gate, split), cfg, rawDir)
      ledger.append(Ledger.transition(chunks, "completed", "spark-fused", version + 1))
      graft.core.Metrics.of(spark).chunksCompleted.add(ranges.length)
      true
    } catch {
      case scala.util.control.NonFatal(e) =>
        // never silent: the caller's per-chunk fallback re-runs the work,
        // but the FIRST failure of a fused 10M-slot backfill must be
        // diagnosable without that re-run
        graft.core.Observability.reportError(s"ingestChunksFused($loader)", e)
        ledger.append(Ledger.transition(chunks, "failed", "spark-fused", version + 1))
        graft.core.Metrics.of(spark).chunksFailed.add(ranges.length)
        false
    }
  }

  /** Concurrent parquet appends to one directory from multiple driver
    * threads race on the shared `_temporary` staging dir — commits must be
    * serialized even though fetch jobs may overlap freely. */
  private[beacon] val commitLock = new Object

  /** Thread-pooled per-chunk ingest (the failure-isolation alternative to
    * [[ingestChunksFused]]): `workers` driver threads run one chunk each;
    * the FETCH job of every chunk is materialized OUTSIDE the commit lock
    * (Spark schedules tasks from concurrent jobs side by side), while the
    * raw write + ledger appends serialize on [[commitLock]]. Returns the
    * per-range success flags in input order. */
  def ingestChunksPooled(
      spark: SparkSession, cfg: ChainConfig, fetcher: SlotFetcher,
      rawDir: String, ledger: LedgerStore, loader: String,
      ranges: Seq[(Long, Long)], workers: Int = 4,
      parallelism: Int = 4,
      split: Boolean = false,
      gate: Option[Long => Boolean] = None): Seq[Boolean] =
    graft.core.Parallel.all(ranges.map { case (s, e) => () =>
      val version = System.currentTimeMillis()
      val chunk = Ledger.chunkRow(spark, loader, s, e)
      commitLock.synchronized {
        ledger.append(Ledger.transition(chunk, "claimed", "spark-pool", version))
      }
      val rows = fetchRanges(spark, Seq((s, e)), fetcher, parallelism, gate, split).persist()
      try {
        rows.count() // fetch runs NOW, outside the commit lock
        commitLock.synchronized {
          writeRaw(rows, cfg, rawDir)
          ledger.append(Ledger.transition(chunk, "completed", "spark-pool", version + 1))
          // driver-side accumulator adds are NOT thread-safe —
          // concurrent pool threads would lose increments
          graft.core.Metrics.of(spark).chunksCompleted.add(1)
        }
        true
      } catch {
        case scala.util.control.NonFatal(ex) =>
          graft.core.Observability.reportError(s"ingestChunksPooled($loader, $s-$e)", ex)
          commitLock.synchronized {
            ledger.append(Ledger.transition(chunk, "failed", "spark-pool", version + 1))
            graft.core.Metrics.of(spark).chunksFailed.add(1)
          }
          false
      } finally rows.unpersist(blocking = false)
    }, workers)

  /** First slot the loader's endpoint exists at — `Long.MaxValue` when the
    * NAMED fork is missing from this network's schedule (gates everything
    * out; a 0L floor would invert the gate and probe every slot since
    * genesis). Shared by the ingest gates and the tail planners — the rule
    * must not fork between planning and fetching. */
  private[graft] def activationFloor(
      cfg: ChainConfig, activationFork: Option[String]): Long =
    activationFork match {
      case None => 0L
      case Some(f) => cfg.activationSlot(f).getOrElse(Long.MaxValue)
    }

  /** F5/F6 fetch gates: restrict a slot range to a loader's cadence —
    * fork-activation floor (pending queues fetch only Electra+;
    * src/loaders/pending_consolidations.py:28-33) and daily-snapshot slots
    * (validators; src/loaders/validators.py:129-149). */
  def gateSlots(
      cfg: ChainConfig, slots: Seq[Long],
      activationFork: Option[String] = None,
      dailyOnly: Boolean = false): Seq[Long] = {
    val floor = activationFloor(cfg, activationFork)
    val gated = slots.filter(_ >= floor)
    if (!dailyOnly) gated
    else gated.filter { s =>
      val d1 = (cfg.genesisTimeUnix + s * cfg.secondsPerSlot) / 86400
      val d2 = (cfg.genesisTimeUnix + (s + 1) * cfg.secondsPerSlot) / 86400
      d1 != d2
    }
  }

  /** [[gateSlots]] as a serializable per-slot predicate: closes over
    * primitives only (floor/genesis/cadence), so the fused/pooled bulk
    * ingest paths can gate executor-side without shipping the config. */
  def slotGate(
      cfg: ChainConfig, activationFork: Option[String],
      dailyOnly: Boolean): Long => Boolean = {
    val floor = activationFloor(cfg, activationFork)
    val genesis = cfg.genesisTimeUnix
    val sps = cfg.secondsPerSlot
    s => s >= floor && (!dailyOnly ||
      (genesis + s * sps) / 86400 != (genesis + (s + 1) * sps) / 86400)
  }
}
