package graft.streaming

import graft.beacon._
import org.apache.spark.sql.SparkSession

/** Head-slot probe (S6: `/eth/v1/beacon/headers/head`). */
trait HeadProbe extends Serializable { def headSlot(): Long }

/** R1–R5: realtime chunk-aligned tailing (reference:
  * src/services/loader.py:44-241).
  *
  * Semantics preserved from the reference:
  *  - R2 reorg guard: target = head − `slotDelay` (fixed lateness
  *    allowance — the source-side watermark).
  *  - R3 tumbling windows: only COMPLETE chunk-size-aligned windows are
  *    processed (`((last/cs)+1)*cs` boundary math).
  *  - R4 exactly-once: the chunk ledger is offset store + commit log;
  *    sinks are replace-keyed (payload-hash dedup + latest() reads) so
  *    re-delivery is idempotent.
  *  - R5 late data: a 404 slot is success-with-no-row; failed chunks are
  *    replayed by `Maintenance.fixChunks`.
  *
  * Implemented as a micro-batch driver loop (each iteration = one
  * `Trigger.AvailableNow`-style batch over the newly complete chunks):
  * the fetch is the latency bottleneck, batches are chunk-granular, and
  * the ledger already provides restart/exactly-once semantics. Users who
  * want the same tail behind the standard `spark.readStream` API get it
  * from [[TailChunkSourceProvider]] + [[StreamingJobs.chunkTailStream]] —
  * a true `MicroBatchStream` whose offset log is the chunk boundary and
  * whose sink runs the SAME `ingestChunk` (ledger rows identical to this
  * loop, e2e-asserted in StreamingSpec).
  */
final class ChunkedTail(
    spark: SparkSession,
    cfg: ChainConfig,
    fetcher: SlotFetcher,
    probe: HeadProbe,
    rawDir: String,
    chunkLedger: LedgerStore,
    /** when set, each ingested chunk is transformed in the same
      * micro-batch (low-latency structured tables, SURVEY §3.3):
      * (outDir, progress ledger). */
    chainedTransform: Option[(String, LedgerStore)] = None,
    loader: String = "blocks",
    chunkSize: Long = 100L,
    slotDelay: Long = 100L,
    pollMillis: Long = 6000L,
    errorBackoffMillis: Long = 12000L,
    /** > 0 enables the continuous-merge analogue: after each batch that
      * ingested chunks, months strictly behind the ingest frontier with
      * at least this many data files are compacted (see
      * [[graft.beacon.Compaction.autoCompactLoader]]). */
    autoCompactMinFiles: Int = 0,
    compactionLog: Option[LedgerStore] = None) {

  /** Resume point: max ingested slot (A5), falling back to ledger state.
    * hasParquetFiles, not exists: a raw dir holding only _SUCCESS (all
    * slots so far were 404-empty) has no rows to read. */
  def resumeSlot(): Long = {
    val fromRaw =
      if (graft.core.Fs.hasParquetFiles(spark, rawDir))
        Ledger.maxSlot(Transformer.readRaw(spark, rawDir, Loaders.byName(loader).splitPayload))
      else None
    fromRaw.getOrElse(-1L)
  }

  /** Process every complete chunk in (lastSlot, head − delay]. Returns the
    * new last processed slot. One call = one micro-batch. The completed
    * set is read ONCE per micro-batch (the reference's bulk-cache trick,
    * loader.py:492-528) — a per-chunk ledger probe would re-read and
    * window-collapse the whole ledger once per chunk, every poll. */
  def processAvailable(lastSlot: Long): Long = {
    val head = probe.headSlot()
    val target = head - slotDelay
    var last = lastSlot
    // hoisted: the loader definition (and its gate) is fixed for the
    // instance — a thousand-chunk catch-up batch must not pay a registry
    // lookup per chunk
    val ldef = Loaders.byName(loader)
    // shared boundary law with the MicroBatchStream source (floorDiv:
    // last = -1 empty resume must yield boundary 0) — the e2e ledger
    // parity between the two paths depends on this being ONE formula
    var nextBoundary = TailChunkSource.boundaryAfter(last, chunkSize)
    // the completed set is read when windows are due OR holes are pending:
    // a hole repaired out-of-band (maintain fix) must heal on the NEXT
    // poll, not after the head advances a whole chunk (≈20 min at mainnet
    // cadence) — the extra ledger read only persists while holes exist
    val completed =
      if (nextBoundary + chunkSize - 1 <= target || holes.nonEmpty) completedChunks()
      else Set.empty[(Long, Long)]
    if (completed.nonEmpty) holes = ChunkedTail.healHoles(holes, completed)
    while (nextBoundary + chunkSize - 1 <= target) {
      val start = nextBoundary
      val end = nextBoundary + chunkSize - 1
      val ok =
        if (completed((start, end))) true
        else {
          // honor the loader's fetch contract (P19 split, F5/F6 gates):
          // a window straddling the activation fork must not probe
          // pre-activation slots, and mega-payload loaders must split
          val r = RawIngest.ingestChunk(spark, cfg, fetcher, rawDir, chunkLedger,
            loader, start, end, split = ldef.splitPayload,
            gate = Some(RawIngest.slotGate(cfg, ldef.activationFork, ldef.dailyOnly)))
          if (r) chainedTransform.foreach { case (outDir, progress) =>
            Transformer.transformChunk(spark, cfg, ldef,
              rawDir, outDir, progress, start, end)
          }
          r
        }
      if (!ok) holes += ((start, end))
      last = end
      nextBoundary += chunkSize
    }
    // the DATA cursor the gauges report: the poll cursor capped below the
    // EARLIEST unrepaired hole — `lastOk = end` on each success would jump
    // the gauge over a failed chunk as soon as any LATER chunk succeeded,
    // reporting a healthy tail over missing data
    val dataCursor = ChunkedTail.dataCursor(last, holes)
    // realtime gauges (reference chain_head_slot / chain_lag_slots,
    // observability.py:37-58) — pushed per micro-batch, read by /metrics
    graft.core.Observability.setGauges(
      "chain_head_slot" -> head,
      s"ingest_last_slot_$loader" -> dataCursor,
      s"ingest_lag_slots_$loader" -> math.max(0L, head - dataCursor))
    // continuous-merge analogue, same contract as chunkTailStream's hook:
    // only after batches that appended, with their commits in the frontier
    if (autoCompactMinFiles > 0 && last != lastSlot)
      Compaction.autoCompactLoader(spark, cfg, ldef, rawDir,
        chainedTransform.map(_._1), chunkLedger, autoCompactMinFiles,
        compactionLog)
    last
  }

  /** Failed chunks whose data is missing — survives across micro-batches
    * so a hole stays visible in the lag gauges until repaired (healed via
    * the completed set once `maintain fix` replays it). Process-lifetime
    * only: holes from a PREVIOUS process are the ledger's to report (J3
    * gap detection / A6 failed-chunk summary). */
  @volatile private var holes: Set[(Long, Long)] = Set.empty

  /** Bulk completed-chunk cache: one ledger read + window collapse per
    * micro-batch for ALL probes (reference loader.py:492-528). */
  def completedChunks(): Set[(Long, Long)] =
    ChunkedTail.completedByLoader(spark, chunkLedger, Seq(loader))
      .getOrElse(loader, Set.empty)

  /** Idempotency probe (reference `_is_chunk_completed` FINAL lookup,
    * loader.py:264-278). Kept for one-off checks; the poll loop uses the
    * bulk [[completedChunks]] cache instead. */
  def isChunkCompleted(start: Long, end: Long): Boolean =
    completedChunks()((start, end))

  /** R1: the poll loop. Runs `maxIterations` micro-batches (use
    * Int.MaxValue for a production tail; tests pass small numbers).
    * Errors back off but are never silent: logged + surfaced in /health. */
  def run(maxIterations: Int): Long = {
    var last = resumeSlot()
    var i = 0
    while (i < maxIterations) {
      try {
        val newLast = processAvailable(last)
        if (newLast == last && i + 1 < maxIterations) Thread.sleep(pollMillis)
        last = newLast
      } catch {
        case scala.util.control.NonFatal(e) =>
          ChunkedTail.reportPollError("ChunkedTail", e)
          if (i + 1 < maxIterations) Thread.sleep(errorBackoffMillis)
      }
      i += 1
    }
    last
  }
}

object ChunkedTail {
  /** A poll-loop error must never vanish: a persistent failure (bad dir,
    * unreachable node, corrupt ledger) would otherwise spin on backoff
    * forever producing nothing with no diagnostic anywhere. */
  private[streaming] def reportPollError(who: String, e: Throwable): Unit =
    graft.core.Observability.reportError(s"$who poll (backing off)", e)

  /** Gauge cursor law: the poll cursor capped below the earliest
    * unrepaired hole. Pure — unit-testable like slotAtTick. */
  private[graft] def dataCursor(pollCursor: Long, holes: Set[(Long, Long)]): Long =
    if (holes.isEmpty) pollCursor
    else math.min(pollCursor, holes.map(_._1).min - 1)

  /** Hole healing law: a hole is healed when its slot range is COVERED by
    * the union of completed ranges — NOT when its exact (start, end) tuple
    * reappears. `maintain fix` may replay a hole at a different chunk
    * granularity (two half-chunks, a handful of daily single-slot chunks);
    * exact-tuple matching would leave the lag gauge pinned below a hole
    * that is fully repaired on disk, and pay the extra ledger read every
    * poll until restart. Pure — unit-testable like dataCursor. */
  private[graft] def healHoles(
      holes: Set[(Long, Long)], completed: Set[(Long, Long)]): Set[(Long, Long)] = {
    if (holes.isEmpty || completed.isEmpty) return holes
    // sweep-merge completed into disjoint intervals (adjacent ranges fuse:
    // [0,49]+[50,99] covers [0,99])
    val merged = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    completed.toSeq.sorted.foreach { case (s, e) =>
      if (merged.nonEmpty && s <= merged.last._2 + 1)
        merged(merged.length - 1) = (merged.last._1, math.max(merged.last._2, e))
      else merged += ((s, e))
    }
    holes.filterNot { case (s, e) => merged.exists(m => m._1 <= s && e <= m._2) }
  }

  /** One ledger read + FINAL collapse serving the completed-chunk sets of
    * MANY loaders at once — the shared bulk cache of a composite
    * micro-batch. The collected set is bounded by chunk count (range /
    * chunk_size), the same cardinality the reference caches driver-side. */
  def completedByLoader(
      spark: SparkSession, chunkLedger: LedgerStore,
      loaders: Seq[String]): Map[String, Set[(Long, Long)]] = {
    import org.apache.spark.sql.functions._
    Ledger.chunkStates(chunkLedger.read(spark, Schemas.loadStateChunks))
      .filter(col("status") === "completed" && col("loader_name").isin(loaders: _*))
      .select("loader_name", "start_slot", "end_slot")
      .collect()
      .groupBy(_.getString(0))
      .view.mapValues(_.map(r => (r.getLong(1), r.getLong(2))).toSet).toMap
  }
}

/** One loader's slot in a composite tail: its endpoint fetcher and an
  * optional chained transform target. */
final case class TailLoader(
    loader: LoaderDef,
    fetcher: SlotFetcher,
    chainedTransform: Option[(String, LedgerStore)] = None)

/** Composite realtime tail (reference: src/services/loader.py:120-241 —
  * realtime drives EVERY enabled loader per cycle, validators and pending
  * queues on daily single-slot chunks, loader.py:547-558).
  *
  * One micro-batch = one head probe + ONE ledger read (shared completed
  * cache across loaders) + per-loader chunk planning by cadence:
  *  - chunk-windowed loaders (blocks, rewards, sidecars): complete
  *    `chunkSize`-aligned windows in (last, head − delay], gated on the
  *    activation fork (a window entirely before activation is skipped);
  *  - dailyOnly loaders (validators, pending queues): one single-slot
  *    chunk per last-slot-of-UTC-day in the window (C12 closed form).
  *
  * Raw tables land in `rawBase/raw_<loader>`; each `TailLoader` may chain
  * a transform of its chunk in the same micro-batch.
  */
final class CompositeTail(
    spark: SparkSession,
    cfg: ChainConfig,
    probe: HeadProbe,
    rawBase: String,
    chunkLedger: LedgerStore,
    loaders: Seq[TailLoader],
    chunkSize: Long = 100L,
    slotDelay: Long = 100L,
    pollMillis: Long = 6000L,
    errorBackoffMillis: Long = 12000L,
    /** > 0 enables the continuous-merge analogue per loader (see
      * [[graft.beacon.Compaction.autoCompactLoader]]). */
    autoCompactMinFiles: Int = 0,
    compactionLog: Option[LedgerStore] = None) {

  require(loaders.nonEmpty, "CompositeTail needs at least one loader")

  def rawDirOf(l: LoaderDef): String = s"$rawBase/${l.rawTable}"

  def resumeSlot(l: LoaderDef): Long = {
    val dir = rawDirOf(l)
    (if (graft.core.Fs.hasParquetFiles(spark, dir))
       Ledger.maxSlot(Transformer.readRaw(spark, dir, l.splitPayload))
     else None).getOrElse(-1L)
  }

  /** Candidate chunk ranges for one loader in (last, target], by cadence.
    * Driver-side closed forms only — no data scan. */
  def planFor(
      l: LoaderDef, last: Long, target: Long): Seq[(Long, Long)] = {
    // shared with the ingest gates — planning and fetching must apply the
    // SAME named-fork-missing-gates-everything-out rule
    val floor = RawIngest.activationFloor(cfg, l.activationFork)
    if (floor > target) return Seq.empty // also guards the epoch math below
    if (l.dailyOnly) {
      // daily single-slot chunks: every last-slot-of-day in (last, target]
      // — ONE law shared with the MicroBatchStream source's daily mode
      TailChunkSource.dailySlots(cfg, last + 1, target, floor).map(s => (s, s))
    } else {
      var boundary =
        TailChunkSource.boundaryAfter(math.max(last, floor - chunkSize), chunkSize)
      val out = Seq.newBuilder[(Long, Long)]
      while (boundary + chunkSize - 1 <= target) {
        if (boundary + chunkSize - 1 >= floor) out += ((boundary, boundary + chunkSize - 1))
        boundary += chunkSize
      }
      out.result()
    }
  }

  /** One composite micro-batch: probe the head once, read the completed
    * cache once, then ingest every loader's due chunks. Returns the new
    * per-loader last slots. */
  def processAvailable(lastSlots: Map[String, Long]): Map[String, Long] = {
    val head = probe.headSlot()
    val target = head - slotDelay
    graft.core.Observability.setGauges("chain_head_slot" -> head)
    val plans: Map[String, (Long, Seq[(Long, Long)])] = loaders.map { tl =>
      val last = lastSlots.getOrElse(tl.loader.name, resumeSlot(tl.loader))
      tl.loader.name -> (last, planFor(tl.loader, last, target))
    }.toMap
    // an idle poll (nothing due for any loader) must not pay the ledger
    // read + window collapse + collect every pollMillis, forever — but
    // pending holes re-read it so out-of-band repairs heal on the next
    // poll (see ChunkedTail.processAvailable)
    val completed =
      if (plans.values.exists(_._2.nonEmpty) || holesByLoader.values.exists(_.nonEmpty))
        ChunkedTail.completedByLoader(spark, chunkLedger, loaders.map(_.loader.name))
      else Map.empty[String, Set[(Long, Long)]]
    val result = loaders.map { tl =>
      val name = tl.loader.name
      var last = plans(name)._1
      var loaderHoles = holesByLoader.getOrElse(name, Set.empty)
      // heal holes repaired out-of-band (maintain fix) — see ChunkedTail
      completed.get(name).foreach(c => loaderHoles = ChunkedTail.healHoles(loaderHoles, c))
      plans(name)._2.foreach { case (start, end) =>
        val ok =
          if (completed.getOrElse(name, Set.empty)((start, end))) true
          else {
            // F5 gate executor-side too: a window STRADDLING the
            // activation fork is planned (404-tolerant endpoints), but
            // its pre-activation slots must not be probed — state
            // endpoints can answer 400, failing the whole chunk
            val r = RawIngest.ingestChunk(spark, cfg, tl.fetcher,
              rawDirOf(tl.loader), chunkLedger, name, start, end,
              split = tl.loader.splitPayload,
              gate = Some(RawIngest.slotGate(
                cfg, tl.loader.activationFork, tl.loader.dailyOnly)))
            if (r) tl.chainedTransform.foreach { case (outDir, progress) =>
              Transformer.transformChunk(spark, cfg, tl.loader,
                rawDirOf(tl.loader), outDir, progress, start, end)
            }
            r
          }
        if (!ok) loaderHoles += ((start, end))
        last = math.max(last, end)
      }
      holesByLoader = holesByLoader.updated(name, loaderHoles)
      // per-loader lag gauges (reference highest_raw_slot / chain_lag_slots
      // by loader, observability.py:42-58); names bounded by the registry.
      // Gauge cursor follows DATA: poll cursor capped below the earliest
      // unrepaired hole (see ChunkedTail.dataCursor). A GATED loader whose
      // activation is unscheduled or still ahead publishes NO lag — its
      // cursor would sit at resume (-1) forever, paging "12M slots behind"
      // for an endpoint that is correctly idle on this network. UNGATED
      // loaders (floor 0) always publish, matching the single-loader
      // ChunkedTail even when target < 0 on a young chain.
      val floor = RawIngest.activationFloor(cfg, tl.loader.activationFork)
      if (floor == 0L || floor <= target) {
        val dataCursor = ChunkedTail.dataCursor(last, loaderHoles)
        graft.core.Observability.setGauges(
          s"ingest_last_slot_$name" -> dataCursor,
          s"ingest_lag_slots_$name" -> math.max(0L, head - dataCursor))
      }
      name -> last
    }.toMap
    // continuous-merge analogue: per loader, after a batch that appended
    if (autoCompactMinFiles > 0 && plans.values.exists(_._2.nonEmpty))
      loaders.foreach { tl =>
        Compaction.autoCompactLoader(spark, cfg, tl.loader,
          rawDirOf(tl.loader), tl.chainedTransform.map(_._1), chunkLedger,
          autoCompactMinFiles, compactionLog)
      }
    result
  }

  /** Per-loader unrepaired failed chunks — survives across micro-batches
    * (see ChunkedTail.holes). */
  @volatile private var holesByLoader: Map[String, Set[(Long, Long)]] = Map.empty

  /** R1: the composite poll loop. */
  def run(maxIterations: Int): Map[String, Long] = {
    var last = loaders.map(tl => tl.loader.name -> resumeSlot(tl.loader)).toMap
    var i = 0
    while (i < maxIterations) {
      try {
        val next = processAvailable(last)
        if (next == last && i + 1 < maxIterations) Thread.sleep(pollMillis)
        last = next
      } catch {
        case scala.util.control.NonFatal(e) =>
          ChunkedTail.reportPollError("CompositeTail", e)
          if (i + 1 < maxIterations) Thread.sleep(errorBackoffMillis)
      }
      i += 1
    }
    last
  }
}
