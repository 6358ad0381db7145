package graft

import graft.beacon._
import graft.streaming.{ChunkedTail, CompositeTail, HeadProbe, TailLoader}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** End-to-end pipeline: mock fetch → raw ingest (+ledger) → transform →
  * query, plus ledger/maintenance/streaming semantics (SURVEY §3).
  */
class PipelineSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark

  private val cfg = ChainConfig.gnosis

  private def tmp(): String = Files.createTempDirectory("graft").toString

  private def fetcherFor(slots: Range): MapSlotFetcher =
    MapSlotFetcher(slots.collect {
      // every 5th slot is an empty slot (404 → absent)
      case s if s % 5 != 4 =>
        s.toLong -> BeaconFixtures.electraBlock
          .replace("\"slot\": \"21405700\"", s"""\"slot\": \"$s\"""")
    }.toMap)

  test("ledger: chunk planning aligns and truncates (D1)") {
    val chunks = Ledger.planChunks(spark, 250, 999, 100, "blocks").collect()
    assert(chunks.head.getAs[Long]("start_slot") === 200L)
    assert(chunks.head.getAs[Long]("end_slot") === 299L)
    assert(chunks.last.getAs[Long]("end_slot") === 999L)
    assert(chunks.length === 8)
  }

  test("ledger: versioned transitions, latest wins; anti-join discovery (J1)") {
    val store = LedgerStore(tmp() + "/chunks")
    val progress = LedgerStore(tmp() + "/progress")
    val planned = Ledger.planChunks(spark, 0, 199, 100, "blocks")
    store.append(planned)
    store.append(Ledger.transition(planned.limit(1), "completed", "w1", 5L))
    val ledger = store.read(spark, Schemas.loadStateChunks)
    val states = Ledger.chunkStates(ledger).orderBy("start_slot").collect()
    assert(states.length === 2)
    assert(states(0).getAs[String]("status") === "completed")
    assert(states(1).getAs[String]("status") === "pending")
    // one completed chunk, nothing transformed → 1 untransformed
    val todo = Ledger.untransformedChunks(
      ledger, progress.read(spark, Schemas.transformerProgress), "blocks")
    assert(todo.count() === 1)
    // overview conditional agg (A1)
    val ov = Ledger.overview(ledger).head()
    assert(ov.getAs[Long]("completed_chunks") === 1L)
    assert(ov.getAs[Long]("pending_chunks") === 1L)
  }

  test("e2e: ingest chunk → transform → §7.3 flagship query; empty slots skipped") {
    val rawDir = tmp() + "/raw_blocks"
    val outDir = tmp() + "/tables"
    val chunkLedger = LedgerStore(tmp() + "/chunks")
    val progressLedger = LedgerStore(tmp() + "/progress")

    val ok = RawIngest.ingestChunk(spark, cfg, fetcherFor(0 until 100), rawDir,
      chunkLedger, "blocks", 0, 99, parallelism = 4)
    assert(ok)
    val raw = spark.read.parquet(rawDir)
    assert(raw.count() === 80) // 20 of 100 slots empty
    assert(raw.columns.contains("month"))
    // payload_hash is the canonical sha256[:16]
    assert(raw.head().getAs[String]("payload_hash").matches("[0-9a-f]{16}"))

    assert(Transformer.transformBlocksChunk(
      spark, cfg, rawDir, outDir, progressLedger, 0, 99, version = 1L))

    // SURVEY §7.3 target query
    spark.read.parquet(s"$outDir/blocks").createOrReplaceTempView("blocks")
    val top = spark.sql(
      """SELECT slot, proposer_index, version, slot_timestamp FROM blocks
        |WHERE slot > 50 ORDER BY slot DESC LIMIT 10""".stripMargin).collect()
    assert(top.length === 10)
    assert(top.head.getAs[Long]("slot") === 98L) // 99 % 5 == 4 → empty
    assert(top.forall(_.getAs[String]("version") === "0x00000064"))

    // fan-out tables materialized
    assert(spark.read.parquet(s"$outDir/attestations").count() === 160L) // 2 per block
    assert(spark.read.parquet(s"$outDir/transactions").count() === 240L) // 3 per block

    // progress ledger recorded completed
    val st = Ledger.transformStatus(
      progressLedger.read(spark, Schemas.transformerProgress)).head()
    assert(st.getAs[Long]("completed") === 1L)

    // re-transform at higher version → latest() still one row per slot (R4 idempotency)
    assert(Transformer.transformBlocksChunk(
      spark, cfg, rawDir, outDir, progressLedger, 0, 99, version = 2L))
    val latest = Transformer.latestTable(spark, outDir, "blocks", Seq("slot"))
    assert(latest.count() === 80L)
    assert(latest.agg(min("insert_version")).head().getLong(0) === 2L)

    // gap detection (J3): empty slots show as gaps
    val gaps = Ledger.gaps(spark, raw, 0, 99, sampleLimit = 100).collect()
    assert(gaps.length === 20)
    assert(gaps.head.getAs[Long]("slot") === 4L)

    // maintenance: delete a slot window then verify it is gone (D5)
    Maintenance.deleteSlotRange(spark, rawDir, cfg, 0, 9)
    assert(spark.read.parquet(rawDir).filter(col("slot") <= 9).count() === 0)
    assert(spark.read.parquet(rawDir).count() === 72) // 80 - 8 present in 0..9
  }

  test("ingestChunksFused: many chunks, ONE fetch job + bulk ledger transitions (D2)") {
    val rawDir = tmp() + "/raw_fused"
    val ledger = LedgerStore(tmp() + "/chunks_fused")
    val ranges = Seq((0L, 49L), (50L, 99L), (100L, 149L))
    assert(RawIngest.ingestChunksFused(
      spark, cfg, fetcherFor(0 until 150), rawDir, ledger, "blocks", ranges, 4))
    assert(spark.read.parquet(rawDir).count() === 120) // 30 of 150 empty
    val states = Ledger.chunkStates(ledger.read(spark, Schemas.loadStateChunks))
      .orderBy("start_slot").collect()
    assert(states.length === 3)
    assert(states.forall(_.getAs[String]("status") === "completed"))
    // exact chunk identity preserved per range
    assert(states.map(r => (r.getAs[Long]("start_slot"), r.getAs[Long]("end_slot"))).toSeq
      === ranges)
  }

  test("ingestChunksFused failure marks all chunks failed; per-chunk retry isolates (D2)") {
    val rawDir = tmp() + "/raw_fusedfail"
    val ledger = LedgerStore(tmp() + "/chunks_fusedfail")
    val poisoned = new SlotFetcher {
      def fetch(slot: Long): Option[String] =
        if (slot >= 50L) throw new RuntimeException("node down for 50+")
        else Some(BeaconFixtures.phase0Block)
    }
    assert(!RawIngest.ingestChunksFused(
      spark, cfg, poisoned, rawDir, ledger, "blocks", Seq((0L, 9L), (50L, 59L)), 2))
    // fallback per-chunk: healthy range completes, poisoned range fails alone
    assert(RawIngest.ingestChunk(spark, cfg, poisoned, rawDir, ledger, "blocks", 0, 9))
    assert(!RawIngest.ingestChunk(spark, cfg, poisoned, rawDir, ledger, "blocks", 50, 59))
    val states = Ledger.chunkStates(ledger.read(spark, Schemas.loadStateChunks))
      .orderBy("start_slot").collect()
    assert(states.map(_.getAs[String]("status")).toSeq === Seq("completed", "failed"))
  }

  test("ingestChunksPooled: concurrent chunks, serialized commits, no dup slots (D2)") {
    val rawDir = tmp() + "/raw_pooled"
    val ledger = LedgerStore(tmp() + "/chunks_pooled")
    val ranges = (0 until 4).map(i => (i * 25L, i * 25L + 24L))
    val oks = RawIngest.ingestChunksPooled(
      spark, cfg, fetcherFor(0 until 100), rawDir, ledger, "blocks", ranges,
      workers = 3, parallelism = 2)
    assert(oks === Seq(true, true, true, true))
    val raw = spark.read.parquet(rawDir)
    assert(raw.count() === 80)
    assert(raw.select("slot").distinct().count() === 80) // no duplicate appends
    assert(Ledger.chunkStates(ledger.read(spark, Schemas.loadStateChunks))
      .filter(col("status") === "completed").count() === 4)
  }

  test("runBatch fused: one action per output table, per-chunk progress intact (D4)") {
    def run(nChunks: Int): (Int, Int, String) = {
      val base = tmp()
      val rawDir = s"$base/raw_blocks"
      val outDir = s"$base/tables"
      val chunkLedger = LedgerStore(s"$base/chunks")
      val progressLedger = LedgerStore(s"$base/progress")
      val ranges = (0 until nChunks).map(i => (i * 50L, i * 50L + 49L))
      assert(RawIngest.ingestChunksFused(spark, cfg, fetcherFor(0 until nChunks * 50),
        rawDir, chunkLedger, "blocks", ranges, 4))
      val sc = spark.sparkContext
      sc.setJobGroup(s"fused-$nChunks", "runBatch fused job-count probe")
      val processed =
        try Transformer.runBatch(spark, cfg, rawDir, outDir, chunkLedger, progressLedger)
        finally sc.clearJobGroup()
      Thread.sleep(1500) // status store is async
      val jobs = sc.statusTracker.getJobIdsForGroup(s"fused-$nChunks").length
      (processed, jobs, base)
    }
    val (p4, jobs4, base4) = run(4)
    assert(p4 === 4)
    // per-chunk progress rows intact: one completed row per range, counts > 0
    val prog = Ledger.latest(
      LedgerStore(s"$base4/progress").read(spark, Schemas.transformerProgress),
      Seq("raw_table_name", "start_slot", "end_slot"), "insert_version")
      .orderBy("start_slot").collect()
    assert(prog.length === 4)
    assert(prog.forall(_.getAs[String]("status") === "completed"))
    assert(prog.forall(_.getAs[Long]("processed_count") > 0L))
    // output equals the per-chunk path: 40 non-empty slots per 50-slot chunk
    assert(spark.read.parquet(s"$base4/tables/blocks").count() === 160L)
    assert(spark.read.parquet(s"$base4/tables/attestations").count() === 320L)
    // fused = CONSTANT number of Spark jobs regardless of chunk count (the
    // serial loop grew by >14 jobs per extra chunk)
    val (p8, jobs8, _) = run(8)
    assert(p8 === 8)
    assert(math.abs(jobs8 - jobs4) <= 4,
      s"fused runBatch job count must not scale with chunks: 4→$jobs4 8→$jobs8")
  }

  test("realtime chunk-aligned tail: only complete chunks, idempotent resume (R1-R4)") {
    val rawDir = tmp() + "/raw_rt"
    val chunkLedger = LedgerStore(tmp() + "/chunks_rt")
    val outDir = tmp() + "/tables_rt"
    val progressRt = LedgerStore(tmp() + "/progress_rt")
    @volatile var head = 259L
    val probe = new HeadProbe { def headSlot(): Long = head }
    val tail = new ChunkedTail(spark, cfg, fetcherFor(0 until 400), probe, rawDir,
      chunkLedger, chainedTransform = Some((outDir, progressRt)),
      chunkSize = 100L, slotDelay = 10L, pollMillis = 1L)

    // head=259, delay=10 → target=249 → chunks [100,199] complete only
    // (chunk [0,99] also complete; resume starts at -1)
    val last = tail.run(1)
    assert(last === 199L)
    val raw = spark.read.parquet(rawDir)
    assert(Ledger.maxSlot(raw).get <= 199L)
    // empty resume (last = -1) must include chunk [0,99] — floorDiv
    // boundary math (plain integer division skipped the first chunk)
    assert(raw.agg(min("slot")).head().getLong(0) === 0L)

    // advance head → next chunk becomes complete; resume picks up from raw
    head = 370L
    val last2 = tail.run(1)
    assert(last2 === 299L)
    // no duplicate ingest of completed chunks (ledger idempotency probe)
    assert(tail.isChunkCompleted(100, 199))
    val states = Ledger.chunkStates(chunkLedger.read(spark, Schemas.loadStateChunks))
    assert(states.filter(col("start_slot") === 100L).count() === 1)
    // chained transform materialized structured tables in the same batch
    assert(spark.read.parquet(s"$outDir/blocks").count() > 0)
    assert(Ledger.transformStatus(progressRt.read(spark, Schemas.transformerProgress))
      .head().getAs[Long]("completed") >= 1L)
  }

  test("planDailyChunks: single-slot chunks at each UTC-day boundary (D1 daily mode)") {
    // gnosis: genesis 1638993340, 5 s/slot → first day boundary at slot 2931,
    // then every 17280 slots (86400/5)
    val chunks = Ledger.planDailyChunks(spark, 0L, 40000L, cfg, "validators")
      .orderBy("start_slot").collect()
    assert(chunks.map(_.getAs[Long]("start_slot")).toSeq === Seq(2931L, 20211L, 37491L))
    assert(chunks.forall(r => r.getAs[Long]("start_slot") === r.getAs[Long]("end_slot")))
    assert(chunks.forall(_.getAs[String]("loader_name") === "validators"))
    // boundary law: slot is the day's last (C11) — slot+1 lands on the next day
    chunks.map(_.getAs[Long]("start_slot")).foreach { s =>
      val d1 = (cfg.genesisTimeUnix + s * cfg.secondsPerSlot) / 86400
      val d2 = (cfg.genesisTimeUnix + (s + 1) * cfg.secondsPerSlot) / 86400
      assert(d1 != d2, s"slot $s is not a day boundary")
    }
  }

  test("CompositeTail: per-loader cadence — windowed blocks + daily validators (R1 multi-loader)") {
    val base = tmp()
    val chunkLedger = LedgerStore(s"$base/chunks")
    val probe = new HeadProbe { def headSlot(): Long = 3050L }
    val validatorsPayload =
      """{"data":[{"index":"1","balance":"32","status":"active_ongoing",
        |"validator":{"pubkey":"0xv1","effective_balance":"32","slashed":false,
        |"activation_epoch":"0","exit_epoch":"100","withdrawal_credentials":"0x00"}}]}"""
        .stripMargin.replaceAll("\n", "")
    val valFetcher = MapSlotFetcher(
      (0L to 3050L).map(s => s -> validatorsPayload).toMap)
    val tail = new CompositeTail(spark, cfg, probe, base, chunkLedger,
      Seq(
        TailLoader(Loaders.blocks, fetcherFor(0 until 3060)),
        TailLoader(Loaders.validators, valFetcher)),
      chunkSize = 1000L, slotDelay = 50L, pollMillis = 1L)
    // target = 3000: blocks chunks [0,999][1000,1999][2000,2999]; validators
    // daily boundary 2931 only (next is 20211)
    val last = tail.run(1)
    assert(last("blocks") === 2999L)
    assert(last("validators") === 2931L)
    val rawVal = spark.read.parquet(s"$base/raw_validators")
    assert(rawVal.select("slot").distinct().collect().map(_.getLong(0)).toSeq === Seq(2931L))
    val states = Ledger.chunkStates(chunkLedger.read(spark, Schemas.loadStateChunks))
    assert(states.filter(col("loader_name") === "blocks" &&
      col("status") === "completed").count() === 3)
    val valChunk = states.filter(col("loader_name") === "validators").collect()
    assert(valChunk.length === 1)
    assert((valChunk(0).getAs[Long]("start_slot"), valChunk(0).getAs[Long]("end_slot"))
      === (2931L, 2931L))
    // idempotency: second batch with unchanged head re-ingests nothing
    val rawCountBefore = spark.read.parquet(s"$base/raw_blocks").count()
    val last2 = tail.processAvailable(last)
    assert(last2 === last)
    assert(spark.read.parquet(s"$base/raw_blocks").count() === rawCountBefore)
  }

  test("CompositeTail chained transform: structured rows land in the same micro-batch (R1)") {
    val base = tmp()
    val chunkLedger = LedgerStore(s"$base/chunks")
    val progressLedger = LedgerStore(s"$base/progress")
    val probe = new HeadProbe { def headSlot(): Long = 160L }
    // mirrors Main.realtime --loaders wiring: each TailLoader chains its
    // transform, so raw AND structured tables tail the head together
    val tail = new CompositeTail(spark, cfg, probe, base, chunkLedger,
      Seq(TailLoader(Loaders.blocks, fetcherFor(0 until 200),
        chainedTransform = Some((s"$base/tables", progressLedger)))),
      chunkSize = 100L, slotDelay = 50L, pollMillis = 1L)
    tail.run(1)
    // chunk [0,99] was ingested and transformed in one micro-batch
    assert(spark.read.parquet(s"$base/tables/blocks").count() === 80)
    val prog = Ledger.latest(
      progressLedger.read(spark, Schemas.transformerProgress),
      Seq("raw_table_name", "start_slot", "end_slot"), "insert_version").collect()
    assert(prog.length === 1 && prog(0).getAs[String]("status") === "completed")
  }

  test("tail micro-batches push head/lag gauges into /metrics (D11 gauges)") {
    val base = tmp()
    val probe = new HeadProbe { def headSlot(): Long = 260L }
    val tail = new ChunkedTail(spark, cfg, fetcherFor(0 until 300), probe,
      s"$base/raw", LedgerStore(s"$base/cl"), chunkSize = 100L, slotDelay = 50L)
    tail.run(1) // target 210 → chunks [0,99] [100,199]; last = 199
    val g = graft.core.Observability.gaugeValues
    assert(g("chain_head_slot") === 260L)
    assert(g("ingest_last_slot_blocks") === 199L)
    assert(g("ingest_lag_slots_blocks") === 61L)
    val text = graft.core.Observability.prometheusText(spark)
    assert(text.contains("# TYPE graft_chain_head_slot gauge"))
    assert(text.contains("graft_ingest_lag_slots_blocks 61"))
    // a chunk that FAILS must not advance the lag gauge (the poll cursor
    // moves on — failed chunks are maintain-fix territory — but a lag
    // gauge following it would report a healthy tail over a hole)
    val flaky = new SlotFetcher {
      val good = fetcherFor(0 until 300)
      def fetch(slot: Long): Option[String] =
        if (slot >= 300) throw new RuntimeException("node down") else good.fetch(slot)
    }
    val tail2 = new ChunkedTail(spark, cfg, flaky,
      new HeadProbe { def headSlot(): Long = 460L },
      s"$base/raw", LedgerStore(s"$base/cl"), chunkSize = 100L, slotDelay = 50L)
    val last2 = tail2.run(1) // target 410: [200,299] ok, [300,399] fails
    val g2 = graft.core.Observability.gaugeValues
    assert(g2("ingest_last_slot_blocks") === 299L)
    assert(g2("ingest_lag_slots_blocks") === 161L)
    // the hole stays visible on the NEXT micro-batch too: the gauge
    // cursor persists across batches instead of re-seeding from the poll
    // cursor (which has already moved past the failed chunk)
    tail2.processAvailable(last2)
    assert(graft.core.Observability.gaugeValues("ingest_last_slot_blocks") === 299L)
  }

  test("lag gauge stays below a mid-batch hole even when LATER chunks succeed, and heals on repair") {
    val base = tmp()
    var head = 560L
    val probe = new HeadProbe { def headSlot(): Long = head }
    val good = fetcherFor(0 until 700)
    val holey = new SlotFetcher {
      def fetch(slot: Long): Option[String] =
        if (slot >= 300 && slot <= 399) throw new RuntimeException("mid-batch hole")
        else good.fetch(slot)
    }
    val ledger = LedgerStore(s"$base/cl")
    val tail = new ChunkedTail(spark, cfg, holey, probe,
      s"$base/raw", ledger, chunkSize = 100L, slotDelay = 50L)
    val last = tail.run(1) // target 510: [0,99]..[200,299] ok, [300,399] FAILS, [400,499] ok
    assert(last === 499L) // poll cursor moved past the hole
    val g = graft.core.Observability.gaugeValues
    // the gauge must NOT follow the later success over the hole
    assert(g("ingest_last_slot_blocks") === 299L)
    assert(g("ingest_lag_slots_blocks") === 261L)
    // repair the hole out-of-band (maintain-fix shape: reload the chunk)
    assert(RawIngest.ingestChunk(spark, cfg, good, s"$base/raw", ledger,
      "blocks", 300L, 399L))
    // next micro-batch (new window due → completed set re-read) heals it
    head = 700L // target 650 → [500,599] due
    tail.processAvailable(last)
    val g2 = graft.core.Observability.gaugeValues
    assert(g2("ingest_last_slot_blocks") === 599L)
    assert(g2("ingest_lag_slots_blocks") === 101L)
  }

  test("readDeclared: fork-era file mixes read stably — missing columns NULL, no footer merge") {
    val rawDir = tmp() + "/raw_blocks"
    val outDir = tmp() + "/tables"
    val chunkLedger = LedgerStore(tmp() + "/chunks")
    val progressLedger = LedgerStore(tmp() + "/progress")
    assert(RawIngest.ingestChunk(spark, cfg, fetcherFor(0 until 20), rawDir,
      chunkLedger, "blocks", 0, 19, parallelism = 4))
    assert(Transformer.transformBlocksChunk(
      spark, cfg, rawDir, outDir, progressLedger, 0, 19, version = 1L))
    // declaredSchema = the parser's own analyzed output (no job runs)
    val declared = Transformer.declaredSchema(spark, "blocks")
    assert(declared.fieldNames.contains("execution_requests_count"))
    assert(declared.fieldNames.contains("slot") && declared.fieldNames.contains("insert_version"))
    // simulate an OLD-ERA file: rewrite the directory without a
    // late-fork column (pre-Electra files had no execution_requests_count)
    val full = spark.read.parquet(s"$outDir/blocks")
    val mixedBase = tmp() + "/tables_mixed"
    val oldEraDir = s"$mixedBase/blocks"
    full.filter(col("slot") < 8).drop("execution_requests_count")
      .write.partitionBy("month").parquet(oldEraDir)
    full.filter(col("slot") >= 8).write.mode("append")
      .partitionBy("month").parquet(oldEraDir)
    // plain read: whether the column exists depends on WHICH footer Spark
    // samples — not asserted (nondeterministic by construction); the
    // declared read is the stable contract
    val evolved = Transformer.readDeclared(spark, mixedBase, "blocks")
    assert(evolved.count() === full.count())
    val nulls = evolved.filter(col("execution_requests_count").isNull).count()
    val olds = full.filter(col("slot") < 8).count()
    assert(nulls === olds, s"old-era rows must surface NULL: $nulls vs $olds")
    // populated rows keep their values
    assert(evolved.filter(col("slot") >= 8)
      .filter(col("execution_requests_count").isNotNull).count() ===
      full.filter(col("slot") >= 8).count())
    // partition column still discovered and prunable alongside the
    // user-specified schema
    assert(evolved.columns.contains("month"))
    // FINAL view over the declared read
    val latest = Transformer.latestTableDeclared(
      spark, mixedBase, "blocks", Seq("slot"))
    assert(latest.count() === full.select("slot").distinct().count())
  }

  test("writeTable fails fast on schema drift instead of appending mixed parquet types") {
    val base = tmp()
    // simulate a table written by an OLD engine version: same column,
    // narrower type (int where the writer now emits long)
    import spark.implicits._
    Seq((1L, 1)).toDF("slot", "withdrawals_count")
      .write.parquet(s"$base/tables/blocks")
    val raw = fetcherFor(0 until 10)
    assert(RawIngest.ingestChunk(spark, cfg, raw, s"$base/raw",
      LedgerStore(s"$base/cl"), "blocks", 0L, 9L))
    val progress = LedgerStore(s"$base/tp")
    val ok = Transformer.transformChunk(spark, cfg, Loaders.blocks,
      s"$base/raw", s"$base/tables", progress, 0L, 9L)
    assert(!ok, "append over a drifted schema must fail, not corrupt the table")
    val err = Ledger.progressStates(progress.read(spark, Schemas.transformerProgress))
      .filter(org.apache.spark.sql.functions.col("status") === "failed")
      .select("error_message").head().getString(0)
    assert(err.contains("schema drift"), err)
    assert(err.contains("withdrawals_count"), err)
  }

  test("invalidateSchemaProbes: an out-of-band rewrite is re-checked after invalidation") {
    val base = tmp()
    val raw = fetcherFor(0 until 20)
    assert(RawIngest.ingestChunk(spark, cfg, raw, s"$base/raw",
      LedgerStore(s"$base/cl"), "blocks", 0L, 19L))
    val progress = LedgerStore(s"$base/tp")
    // first transform probes the (empty) dir and caches the verdict
    assert(Transformer.transformChunk(spark, cfg, Loaders.blocks,
      s"$base/raw", s"$base/tables", progress, 0L, 9L))
    // another process rewrites the table under a NARROWER schema; without
    // invalidation this driver's cached probe would skip the drift check
    import spark.implicits._
    Seq((1L, 1)).toDF("slot", "withdrawals_count")
      .write.mode("overwrite").parquet(s"$base/tables/blocks")
    Transformer.invalidateSchemaProbes(s"$base/tables")
    val ok = Transformer.transformChunk(spark, cfg, Loaders.blocks,
      s"$base/raw", s"$base/tables", progress, 10L, 19L)
    assert(!ok, "post-invalidation append must re-probe and fail fast on drift")
    val err = Ledger.progressStates(progress.read(spark, Schemas.transformerProgress))
      .filter(org.apache.spark.sql.functions.col("status") === "failed")
      .select("error_message").orderBy(org.apache.spark.sql.functions.col("start_slot").desc)
      .head().getString(0)
    assert(err.contains("schema drift"), err)
  }

  test("CompositeTail: a loader gated out by an unscheduled fork publishes NO lag gauges") {
    val base = tmp()
    val probe = new HeadProbe { def headSlot(): Long = 1000L }
    val gated = Loaders.blocks.copy(
      name = "gated_probe_test", activationFork = Some("never_scheduled"))
    val tail = new CompositeTail(spark, cfg, probe, base,
      LedgerStore(s"$base/cl"), Seq(TailLoader(gated, fetcherFor(0 until 10))),
      chunkSize = 100L, slotDelay = 50L)
    tail.processAvailable(Map.empty)
    val g = graft.core.Observability.gaugeValues
    assert(!g.contains("ingest_last_slot_gated_probe_test"),
      "idle-by-gate loader must not publish a cursor")
    assert(!g.contains("ingest_lag_slots_gated_probe_test"),
      "idle-by-gate loader must not page as catastrophically behind")
  }

  test("CompositeTail.planFor: activation-fork floor gates windows and daily slots") {
    val probe = new HeadProbe { def headSlot(): Long = 0L }
    val tail = new CompositeTail(spark, cfg, probe, tmp(), LedgerStore(tmp() + "/cl"),
      Seq(TailLoader(Loaders.blocks, fetcherFor(0 until 1))), chunkSize = 100L)
    // windowed: floor mid-window keeps the straddling chunk (404-tolerant),
    // drops fully-pre-activation windows
    val deneb = Loaders.blobSidecars.copy(activationFork = Some("altair")) // gnosis altair @ slot 8192
    val win = tail.planFor(deneb, -1L, 8500L)
    assert(win.head === (8100L, 8199L)) // first window whose end >= 8192
    assert(win.last === (8400L, 8499L))
    // daily: boundaries below the floor are skipped entirely (state
    // endpoints 404-as-error, must not be probed pre-activation)
    val dailyGated = Loaders.pendingDeposits.copy(activationFork = Some("altair"))
    val daily = tail.planFor(dailyGated, -1L, 40000L)
    assert(daily === Seq((20211L, 20211L), (37491L, 37491L))) // 2931 < 8192 dropped
  }

  test("all-empty chunk transforms as SUCCESS with zero rows, not a poisoned failure") {
    val base = tmp()
    val rawDir = s"$base/raw_blocks"
    val chunkLedger = LedgerStore(s"$base/chunks")
    val progressLedger = LedgerStore(s"$base/progress")
    // every slot 404s → writeRaw writes an empty frame → dir holds only
    // _SUCCESS (no schema to infer)
    assert(RawIngest.ingestChunk(spark, cfg, MapSlotFetcher(Map.empty), rawDir,
      chunkLedger, "blocks", 0, 9))
    assert(Transformer.transformBlocksChunk(
      spark, cfg, rawDir, s"$base/tables", progressLedger, 0, 9, version = 1L))
    // fused path over the same empty raw table
    assert(Transformer.transformChunksFused(spark, cfg, Loaders.blocks, rawDir,
      s"$base/tables", progressLedger, Seq((10L, 19L), (20L, 29L))))
    val prog = Ledger.latest(progressLedger.read(spark, Schemas.transformerProgress),
      Seq("raw_table_name", "start_slot", "end_slot"), "insert_version").collect()
    assert(prog.length === 3)
    assert(prog.forall(_.getAs[String]("status") === "completed"))
    assert(prog.forall(_.getAs[Long]("processed_count") === 0L))
  }

  test("tail resume over an all-empty raw dir is -1, not a schema-inference crash") {
    val rawDir = tmp() + "/raw_empty_tail"
    RawIngest.ingestChunk(spark, cfg, MapSlotFetcher(Map.empty), rawDir,
      LedgerStore(tmp() + "/cl"), "blocks", 0, 9)
    val probe = new HeadProbe { def headSlot(): Long = 0L }
    val tail = new ChunkedTail(spark, cfg, MapSlotFetcher(Map.empty), probe,
      rawDir, LedgerStore(tmp() + "/cl2"))
    assert(tail.resumeSlot() === -1L)
  }

  test("transform reprocess: delete-and-rebuild of a slot range at a fresh version") {
    val base = tmp()
    val rawDir = s"$base/raw_blocks"
    val outDir = s"$base/tables"
    val progressLedger = LedgerStore(s"$base/progress")
    RawIngest.ingestChunk(spark, cfg, fetcherFor(0 until 100), rawDir,
      LedgerStore(s"$base/chunks"), "blocks", 0, 99)
    assert(Transformer.transformBlocksChunk(
      spark, cfg, rawDir, outDir, progressLedger, 0, 99, version = 1L))
    val before = spark.read.parquet(s"$outDir/blocks").count() // 80 non-empty
    // reprocess the middle of the range in 20-slot chunks
    assert(Transformer.reprocess(
      spark, cfg, Loaders.blocks, rawDir, outDir, progressLedger, 20, 59, chunkSize = 20))
    val blocks = Transformer.latestTable(spark, outDir, "blocks", Seq("slot"))
    assert(blocks.count() === before) // nothing lost, nothing duplicated
    // reprocessed slots carry the NEW insert_version; others keep v1
    val versions = blocks
      .select(col("slot"), col("insert_version")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(versions.filter(_._1 < 20).forall(_._2 === 1L))
    assert(versions.view.filterKeys(s => s >= 20 && s <= 59).forall(_._2 > 1L))
    // per-chunk progress rows recorded for the reprocess sub-ranges
    val prog = Ledger.latest(progressLedger.read(spark, Schemas.transformerProgress),
      Seq("raw_table_name", "start_slot", "end_slot"), "insert_version")
    assert(prog.filter(col("start_slot") === 20L && col("end_slot") === 39L &&
      col("status") === "completed").count() === 1)
    assert(prog.filter(col("start_slot") === 40L && col("end_slot") === 59L).count() === 1)
  }

  test("foundation bootstrap e2e: genesis+specs → derived schedule drives a transform (D9)") {
    val base = tmp()
    // a custom chain: genesis 2021-01-01T00:00:07Z, 7 s slots, 8-slot epochs,
    // electra at epoch 2 — NONE of these match a static preset
    val genesisUnix = 1609459207L
    val fetcher = MapFoundationFetcher(
      s"""{"data":{"genesis_time":"$genesisUnix","genesis_validators_root":"0xgvr","genesis_fork_version":"0x00000099"}}""",
      """{"data":{"SECONDS_PER_SLOT":"7","SLOTS_PER_EPOCH":"8",
        |"ELECTRA_FORK_EPOCH":"2","ELECTRA_FORK_VERSION":"0x05000099"}}"""
        .stripMargin.replaceAll("\n", ""))
    val cfg2 = Foundation.bootstrap(spark, fetcher, base, "gnosis")
    assert(cfg2.genesisTimeUnix === genesisUnix)
    assert(cfg2.secondsPerSlot === 7L)
    assert(cfg2.slotsPerEpoch === 8L)
    assert(cfg2.forks.find(_.name === "electra").get.epoch === 2L)
    assert(cfg2.forks.find(_.name === "electra").get.version === "0x05000099")
    // foundation tables materialized
    assert(spark.read.parquet(Foundation.specsDir(base)).count() >= 4)
    val th = spark.read.parquet(Foundation.timeHelpersDir(base)).head()
    assert(th.getAs[Long]("genesis_time_unix") === genesisUnix)
    assert(th.getAs[Long]("seconds_per_slot") === 7L)
    // transform a chunk WITH the derived schedule: slot_timestamp must be
    // genesis + slot*7 (not any preset's 5s/12s law)
    val rawDir = s"$base/raw_blocks"
    RawIngest.ingestChunk(spark, cfg2, fetcherFor(0 until 20), rawDir,
      LedgerStore(s"$base/chunks"), "blocks", 0, 19)
    Transformer.transformBlocksChunk(spark, cfg2, rawDir, s"$base/tables",
      LedgerStore(s"$base/progress"), 0, 19, version = 1L)
    val b = spark.read.parquet(s"$base/tables/blocks")
      .filter(col("slot") === 10L).head()
    assert(b.getAs[java.sql.Timestamp]("slot_timestamp").getTime / 1000
      === genesisUnix + 10L * 7L)
    // storedConfig rehydrates the derived schedule (what `transform batch` uses)
    val stored = Foundation.storedConfig(spark, base, "gnosis")
    assert(stored.secondsPerSlot === 7L)
    assert(stored.forks.find(_.name === "electra").get.epoch === 2L)
    // refresh-specs overwrites the spec table + time_helpers (cli.py:77-82)
    val fetcher2 = MapFoundationFetcher(fetcher.genesisJson,
      """{"data":{"SECONDS_PER_SLOT":"7","SLOTS_PER_EPOCH":"16"}}""")
    assert(Foundation.refreshSpecs(spark, fetcher2, base) === 2L)
    assert(Foundation.storedConfig(spark, base, "gnosis").slotsPerEpoch === 16L)
    // verify guard: a node for a DIFFERENT chain must be refused
    val wrongChain = MapFoundationFetcher(
      """{"data":{"genesis_time":"1700000000","genesis_validators_root":"0x","genesis_fork_version":"0x"}}""",
      fetcher.specsJson)
    intercept[IllegalArgumentException] {
      Foundation.bootstrap(spark, wrongChain, base, "gnosis")
    }
  }

  test("loader registry: generic transform path for a state loader (validators)") {
    val rawDir = tmp() + "/raw_validators"
    val outDir = tmp() + "/tables_v"
    val progress = LedgerStore(tmp() + "/progress_v")
    val fetcher = MapSlotFetcher(Map(1000L -> BeaconFixtures.validatorsPayload))
    RawIngest.ingestChunk(spark, cfg, fetcher, rawDir, LedgerStore(tmp() + "/cl"),
      "validators", 1000, 1000)
    val ok = Transformer.transformChunk(spark, cfg, Loaders.validators,
      rawDir, outDir, progress, 1000, 1000, version = 1L)
    assert(ok)
    assert(spark.read.parquet(s"$outDir/validators").count() === 2)
    // loader gates: pending queues fetch only at Electra+ daily boundaries
    val pc = Loaders.pendingConsolidations
    val gated = pc.gateSlots(cfg, Seq(100L, cfg.activationSlot("electra").get + 5))
    assert(gated.forall(_ >= cfg.activationSlot("electra").get))
    assert(Loaders.byName("blocks").tables.contains("attestations"))
    assert(Loaders.all.map(_.name).distinct.size === 8)
  }

  test("ingestChunk split mode: raw rows carry part columns (P19 wiring)") {
    val rawDir = tmp() + "/raw_val_split"
    val payload = """{"data":[{"index":"1","balance":"32"}]}"""
    assert(RawIngest.ingestChunk(spark, cfg, MapSlotFetcher(Map(5L -> payload)),
      rawDir, LedgerStore(tmp() + "/cl"), "validators", 5, 5, split = true))
    val raw = spark.read.parquet(rawDir)
    assert(raw.columns.contains("part_index") && raw.columns.contains("part_count"))
    assert(raw.head().getAs[Int]("part_count") === 1) // under threshold: intact
  }

  test("split-payload transform: dedup keys on (slot, part) — NO parts dropped (P19)") {
    val base = tmp()
    val rawDir = s"$base/raw_validators"
    val payload =
      """{"data":[
        |{"index":"1","balance":"31","status":"active_ongoing","validator":{"pubkey":"0xv1","effective_balance":"32","slashed":false,"activation_epoch":"0","exit_epoch":"100","withdrawal_credentials":"0x00"}},
        |{"index":"2","balance":"32","status":"active_ongoing","validator":{"pubkey":"0xv2","effective_balance":"32","slashed":false,"activation_epoch":"0","exit_epoch":"101","withdrawal_credentials":"0x01"}},
        |{"index":"3","balance":"33","status":"active_ongoing","validator":{"pubkey":"0xv3","effective_balance":"32","slashed":false,"activation_epoch":"0","exit_epoch":"102","withdrawal_credentials":"0x02"}}
        |]}""".stripMargin.replaceAll("\n", "")
    // force a 1-entry-per-part split: 3 parts for one slot
    val rows = RawIngest.fetchSlotsSplit(spark, Seq(5L),
      MapSlotFetcher(Map(5L -> payload)), 2,
      splitThresholdBytes = 1, entriesPerPart = 1)
    RawIngest.writeRaw(rows, cfg, rawDir)
    assert(spark.read.parquet(rawDir).count() === 3) // 3 part rows
    // a slot-only dedup would keep ONE part and lose 2 of 3 validators
    assert(Transformer.transformChunk(spark, cfg, Loaders.validators,
      rawDir, s"$base/tables", LedgerStore(s"$base/progress"), 0, 9))
    val vals = spark.read.parquet(s"$base/tables/validators")
    assert(vals.select(col("validator_index").cast("long")).collect()
      .map(_.getLong(0)).sorted.toSeq === Seq(1L, 2L, 3L))
  }

  test("split re-fetch: only the winning retrieval's parts survive — no snapshot mixing (P19)") {
    val base = tmp()
    val rawDir = s"$base/raw_validators"
    def valEntry(i: Int, bal: Int) =
      s"""{"index":"$i","balance":"$bal","status":"active_ongoing","validator":{"pubkey":"0xv$i","effective_balance":"32","slashed":false,"activation_epoch":"0","exit_epoch":"10$i","withdrawal_credentials":"0x0$i"}}"""
    // retrieval 1: 3 validators split into 3 parts
    val p1 = s"""{"data":[${valEntry(1, 11)},${valEntry(2, 12)},${valEntry(3, 13)}]}"""
    RawIngest.writeRaw(RawIngest.fetchSlotsSplit(spark, Seq(5L),
      MapSlotFetcher(Map(5L -> p1)), 2, splitThresholdBytes = 1, entriesPerPart = 1),
      cfg, rawDir)
    Thread.sleep(5)
    // retrieval 2 (later): only 2 validators → 2 parts; a per-(slot,part)
    // latest would keep retrieval 1's orphaned part 3 and mix snapshots
    val p2 = s"""{"data":[${valEntry(1, 21)},${valEntry(2, 22)}]}"""
    RawIngest.writeRaw(RawIngest.fetchSlotsSplit(spark, Seq(5L),
      MapSlotFetcher(Map(5L -> p2)), 2, splitThresholdBytes = 1, entriesPerPart = 1),
      cfg, rawDir)
    assert(spark.read.parquet(rawDir).count() === 5) // 3 + 2 part rows
    assert(Transformer.transformChunk(spark, cfg, Loaders.validators,
      rawDir, s"$base/tables", LedgerStore(s"$base/progress"), 0, 9))
    val vals = spark.read.parquet(s"$base/tables/validators")
      .select(col("validator_index").cast("long"), col("balance").cast("long")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    // ONLY retrieval 2: validators 1,2 with the NEW balances; no phantom 3
    assert(vals === Seq((1L, 21L), (2L, 22L)))
  }

  test("missing raw dir is a FAILURE, not an empty success (reprocess data-loss guard)") {
    val base = tmp()
    val progress = LedgerStore(s"$base/progress")
    assert(!Transformer.transformChunk(spark, cfg, Loaders.blocks,
      s"$base/raw_nonexistent", s"$base/tables", progress, 0, 9))
    assert(!Transformer.transformChunksFused(spark, cfg, Loaders.blocks,
      s"$base/raw_nonexistent", s"$base/tables", progress, Seq((0L, 9L), (10L, 19L))))
    val st = progress.read(spark, Schemas.transformerProgress)
    assert(st.filter(col("status") === "completed").count() === 0)
  }

  test("ingestChunk records the EXACT chunk range, even non-aligned (ledger identity)") {
    val chunkLedger = LedgerStore(tmp() + "/chunks_exact")
    // start 1000 is NOT a multiple of the 251-slot chunk length
    RawIngest.ingestChunk(spark, cfg, fetcherFor(1000 until 1251), tmp() + "/raw_e",
      chunkLedger, "blocks", 1000, 1250)
    val states = Ledger.chunkStates(chunkLedger.read(spark, Schemas.loadStateChunks)).collect()
    assert(states.length === 1)
    assert(states(0).getAs[String]("chunk_id") === "blocks_1000_1250")
    assert(states(0).getAs[Long]("start_slot") === 1000L)
    assert(states(0).getAs[Long]("end_slot") === 1250L)
    assert(states(0).getAs[String]("status") === "completed")
  }

  test("fixChunks on a chunk that failed before any raw write does not crash (D5 edge)") {
    val chunkLedger = LedgerStore(tmp() + "/chunks_nofile")
    val failing = new SlotFetcher {
      def fetch(slot: Long): Option[String] = throw new RuntimeException("down")
    }
    val missingRaw = tmp() + "/raw_never_written"
    assert(!RawIngest.ingestChunk(spark, cfg, failing, missingRaw, chunkLedger, "blocks", 0, 9))
    val failed = Ledger.chunkStates(chunkLedger.read(spark, Schemas.loadStateChunks))
      .filter(col("status") === "failed")
    assert(Maintenance.fixChunks(spark, cfg, missingRaw, chunkLedger, failed) === 1)
    assert(Ledger.chunkStates(chunkLedger.read(spark, Schemas.loadStateChunks))
      .filter(col("status") === "pending").count() === 1)
  }

  test("deleteSlotRange clears fully-emptied month partitions (D5 edge)") {
    import spark.implicits._
    val dir = tmp() + "/raw_months"
    // gnosis months: slot 450k ~ 2022-01, slot 1_000_000 ~ 2022-02 area —
    // use two clearly distinct months via direct month column values
    val rows = Seq(
      (100L, "p1", "h1", new java.sql.Timestamp(0L), "2021-12"),
      (600000L, "p2", "h2", new java.sql.Timestamp(0L), "2022-01"))
      .toDF("slot", "payload", "payload_hash", "retrieved_at", "month")
    rows.write.partitionBy("month").parquet(dir)
    // delete the whole first month's slot range; second month untouched
    Maintenance.deleteSlotRange(spark, dir, cfg, 0L, 500000L)
    val left = spark.read.parquet(dir)
    assert(left.count() === 1)
    assert(left.head().getAs[Long]("slot") === 600000L)
    assert(!new java.io.File(s"$dir/month=2021-12").exists())
  }

  test("validators mega-payload split: hash pre-split, parse across parts intact (SURVEY 7.4)") {
    import spark.implicits._
    val payload = BeaconFixtures.validatorsPayload
    val intactHash = graft.functions.CanonicalJson.payloadHash16(payload)
    // force splitting: threshold 1 byte, 1 entry per part -> 2 parts
    val parts = RawIngest.fetchSlotsSplit(spark,
      Seq(1000L), MapSlotFetcher(Map(1000L -> payload)),
      splitThresholdBytes = 1, entriesPerPart = 1)
    val rows = parts.orderBy("part_index").collect()
    assert(rows.length === 2)
    assert(rows.forall(_.getAs[String]("payload_hash") === intactHash))
    assert(rows.forall(_.getAs[Int]("part_count") === 2))
    // parse across parts == parse of the intact payload
    val split = StateParsers.validators(parts, cfg).orderBy("validator_index")
    val whole = StateParsers.validators(
      Seq((1000L, payload, intactHash, new java.sql.Timestamp(0L)))
        .toDF("slot", "payload", "payload_hash", "retrieved_at"), cfg)
      .orderBy("validator_index")
    assert(split.drop("slot_timestamp", "insert_version").collect().toSeq ===
      whole.drop("slot_timestamp", "insert_version").collect().toSeq)
    // streaming splitter: non-data payloads stay intact
    assert(PayloadSplitter.split("{\"other\": 1}", 1) === Seq("{\"other\": 1}"))
    assert(PayloadSplitter.split("not json", 1) === Seq("not json"))
  }

  test("maintenance fix loop: failed chunk -> fix -> reload -> retransform (D5)") {
    val rawDir = tmp() + "/raw_fix"
    val outDir = tmp() + "/tables_fix"
    val chunkLedger = LedgerStore(tmp() + "/chunks_fix")
    val progressLedger = LedgerStore(tmp() + "/progress_fix")
    // a fetcher that fails hard for the first chunk
    val failing = new SlotFetcher {
      def fetch(slot: Long): Option[String] =
        if (slot < 50) throw new RuntimeException("node down") else None
    }
    assert(!RawIngest.ingestChunk(spark, cfg, failing, rawDir, chunkLedger,
      "blocks", 0, 49))
    val failed = Ledger.chunkStates(chunkLedger.read(spark, Schemas.loadStateChunks))
      .filter(col("status") === "failed")
    assert(failed.count() === 1)
    // fix: reset to pending (raw dir may not exist yet -> no delete needed)
    Maintenance.resetChunks(chunkLedger, failed)
    val pending = Ledger.chunkStates(chunkLedger.read(spark, Schemas.loadStateChunks))
      .filter(col("status") === "pending")
    assert(pending.count() === 1)
    // reload with a healthy fetcher, retransform, verify
    assert(RawIngest.ingestChunk(spark, cfg, fetcherFor(0 until 50), rawDir,
      chunkLedger, "blocks", 0, 49, version = System.currentTimeMillis() + 10))
    assert(Transformer.transformBlocksChunk(spark, cfg, rawDir, outDir,
      progressLedger, 0, 49, version = 1L))
    assert(spark.read.parquet(s"$outDir/blocks").count() === 40)
  }

  test("fetch gates: fork-activation floor + daily-snapshot slots (F5/F6)") {
    val slots = (27435000L to 27435020L).toSeq
    val gated = RawIngest.gateSlots(cfg, slots, activationFork = Some("fulu"))
    assert(gated.head === 27435008L)
    // daily gating picks exactly the last slot of each UTC day
    val daily = RawIngest.gateSlots(cfg, (0L to 17280L * 2).toSeq, dailyOnly = true)
    assert(daily.nonEmpty)
    daily.foreach { s =>
      val d1 = (cfg.genesisTimeUnix + s * 5) / 86400
      val d2 = (cfg.genesisTimeUnix + (s + 1) * 5) / 86400
      assert(d1 != d2)
    }
  }

  test("slotGate predicate agrees with gateSlots (fused-path executor gating)") {
    val slots = (27434990L to 27435020L) ++ (0L to 40000L by 7L)
    for {
      fork <- Seq(None, Some("fulu"))
      daily <- Seq(false, true)
    } {
      val g = RawIngest.slotGate(cfg, fork, daily)
      assert(slots.filter(g) === RawIngest.gateSlots(cfg, slots, fork, daily),
        s"fork=$fork daily=$daily")
    }
  }

  test("fixAndRepair: one-command delete → reset → reload → retransform (D5 complete)") {
    val base = tmp()
    val chunkLedger = LedgerStore(s"$base/load_state_chunks")
    val progressLedger = LedgerStore(s"$base/transformer_progress")
    val rawDir = s"$base/raw_blocks"
    val outDir = s"$base/tables"
    val good = fetcherFor(0 until 100)
    val poisoned = new SlotFetcher {
      def fetch(slot: Long): Option[String] =
        if (slot >= 50) throw new RuntimeException("node down") else good.fetch(slot)
    }
    assert(RawIngest.ingestChunk(spark, cfg, poisoned, rawDir, chunkLedger, "blocks", 0, 49))
    assert(!RawIngest.ingestChunk(spark, cfg, poisoned, rawDir, chunkLedger, "blocks", 50, 99))
    Transformer.runBatch(spark, cfg, rawDir, outDir, chunkLedger, progressLedger)
    assert(spark.read.parquet(s"$outDir/blocks").count() === 40) // only the healthy chunk
    // range scoping: a fix window that misses the failed chunk repairs nothing
    val none = Maintenance.fixAndRepair(spark, cfg, base, chunkLedger, progressLedger,
      Seq(Loaders.blocks), _ => good, startSlot = 0L, endSlot = 49L)
    assert(none("blocks") === 0)
    // the one-command repair: delete window → reset → reload → retransform
    val fixed = Maintenance.fixAndRepair(spark, cfg, base, chunkLedger, progressLedger,
      Seq(Loaders.blocks), _ => good)
    assert(fixed("blocks") === 1)
    val states = Ledger.chunkStates(chunkLedger.read(spark, Schemas.loadStateChunks))
    assert(states.filter(col("status") === "completed").count() === 2)
    assert(spark.read.parquet(rawDir).select("slot").distinct().count() === 80)
    assert(spark.read.parquet(s"$outDir/blocks").count() === 80) // repaired, no dups
    // chunk-grained progress row for the repaired range
    val prog = Ledger.latest(
      progressLedger.read(spark, Schemas.transformerProgress),
      Seq("raw_table_name", "start_slot", "end_slot"), "insert_version")
      .filter(col("start_slot") === 50L).collect()
    assert(prog.length === 1 && prog(0).getAs[String]("status") === "completed")
  }

  test("fixAndRepair: a chunk whose refetch still fails stays failed — no masked data loss") {
    val base = tmp()
    val chunkLedger = LedgerStore(s"$base/load_state_chunks")
    val progressLedger = LedgerStore(s"$base/transformer_progress")
    val down = new SlotFetcher {
      def fetch(slot: Long): Option[String] = throw new RuntimeException("still down")
    }
    assert(!RawIngest.ingestChunk(spark, cfg, down, s"$base/raw_blocks",
      chunkLedger, "blocks", 0, 49))
    val repaired = Maintenance.fixAndRepair(spark, cfg, base, chunkLedger,
      progressLedger, Seq(Loaders.blocks), _ => down)
    assert(repaired("blocks") === 0) // reload failed → NOT counted repaired
    val states = Ledger.chunkStates(chunkLedger.read(spark, Schemas.loadStateChunks))
    assert(states.filter(col("status") === "failed").count() === 1) // still visible
    // and no completed-with-0-rows progress row papering over the hole
    assert(progressLedger.read(spark, Schemas.transformerProgress)
      .filter(col("status") === "completed").count() === 0)
  }

  test("fused ingest/transform failures surface in /health, overlap rejected (never silent)") {
    val rawDir = tmp() + "/raw_health"
    val ledger = LedgerStore(tmp() + "/chunks_health")
    val boom = new SlotFetcher {
      def fetch(slot: Long): Option[String] = throw new RuntimeException("boom-ingest")
    }
    graft.core.Observability.updateHealth("last_error" -> "none")
    assert(!RawIngest.ingestChunksFused(spark, cfg, boom, rawDir, ledger, "blocks",
      Seq((0L, 9L), (10L, 19L))))
    assert(graft.core.Observability.health("last_error").contains("ingestChunksFused"))
    // inverted ranges are ledger corruption → refused
    val progress = LedgerStore(tmp() + "/progress_health")
    assert(!Transformer.transformChunksFused(spark, cfg, Loaders.blocks, rawDir,
      tmp() + "/t_health", progress, Seq((10L, 0L))))
    assert(graft.core.Observability.health("last_error").contains("inverted"))
  }

  test("fused transform over an OVERLAPPING grid: each slot parsed once, mix surfaced (D4)") {
    val base = tmp()
    RawIngest.ingestChunk(spark, cfg, fetcherFor(0 until 16), s"$base/raw",
      LedgerStore(s"$base/cl"), "blocks", 0, 15)
    graft.core.Observability.updateHealth("last_error" -> "none")
    // mixed chunk grid (streaming exact run vs planned chunk): semi-join
    // membership parses the shared slots 5-10 ONCE — no duplicate rows
    assert(Transformer.transformChunksFused(spark, cfg, Loaders.blocks,
      s"$base/raw", s"$base/tables", LedgerStore(s"$base/progress"),
      Seq((0L, 10L), (5L, 15L))))
    // a handled-correctly condition is a WARNING — it must not clobber
    // the last_error diagnostic of a real failure
    assert(graft.core.Observability.health("last_warning").contains("overlapping"))
    assert(graft.core.Observability.health("last_error") === "none")
    val slots = spark.read.parquet(s"$base/tables/blocks")
      .select("slot").collect().map(_.getLong(0)).sorted.toSeq
    assert(slots === slots.distinct) // no duplicated slots in the output
    assert(slots === (0L to 15L).filterNot(_ % 5 === 4L)) // full coverage
    // each range's processed_count counts every table row inside it, so
    // the shared slots 5-10 count in both ranges
    val prog = Ledger.progressStates(
      LedgerStore(s"$base/progress").read(spark, Schemas.transformerProgress))
      .select("start_slot", "end_slot", "processed_count").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val tables = Loaders.blocks.tables.toSeq
      .filter(t => graft.core.Fs.hasParquetFiles(spark, s"$base/tables/$t"))
      .map(t => spark.read.parquet(s"$base/tables/$t").select("slot"))
    def naive(s: Long, e: Long) =
      tables.map(_.filter(col("slot").between(s, e)).count()).sum
    assert(prog === Map((0L, 10L) -> naive(0L, 10L), (5L, 15L) -> naive(5L, 15L)))
    assert(naive(0L, 10L) > 0L)
  }

  test("fused transform: rows_written equals the rows of every table") {
    val base = tmp()
    RawIngest.ingestChunk(spark, cfg, fetcherFor(0 until 40), s"$base/raw",
      LedgerStore(s"$base/cl"), "blocks", 0, 39)
    val before = graft.core.Metrics.of(spark).rowsWritten.value
    assert(Transformer.transformChunksFused(spark, cfg, Loaders.blocks,
      s"$base/raw", s"$base/tables", LedgerStore(s"$base/progress"),
      Seq((0L, 9L), (10L, 19L), (20L, 29L), (30L, 39L))))
    val tableRows = Loaders.blocks.tables.toSeq
      .filter(t => graft.core.Fs.hasParquetFiles(spark, s"$base/tables/$t"))
      .map(t => spark.read.parquet(s"$base/tables/$t").count()).sum
    assert(tableRows > 0L)
    assert(graft.core.Metrics.of(spark).rowsWritten.value - before === tableRows)
  }

  test("fused transform: a drifted table fails the call only after every concurrent write ends") {
    val base = tmp()
    import spark.implicits._
    // a withdrawals directory written by an older engine: a long column
    // stored as string
    Seq((1L, "0")).toDF("slot", "withdrawal_index")
      .write.parquet(s"$base/tables/withdrawals")
    RawIngest.ingestChunk(spark, cfg, fetcherFor(0 until 20), s"$base/raw",
      LedgerStore(s"$base/cl"), "blocks", 0, 19)
    val progress = LedgerStore(s"$base/progress")
    graft.core.Observability.updateHealth("last_error" -> "none")
    assert(!Transformer.transformChunksFused(spark, cfg, Loaders.blocks,
      s"$base/raw", s"$base/tables", progress, Seq((0L, 9L), (10L, 19L))))
    // no write of this call is still running on return: every job event
    // posted so far is delivered before the status store is read
    val sc = spark.sparkContext
    org.apache.spark.TestListenerBus.drain(sc)
    assert(sc.statusTracker.getActiveJobIds.isEmpty)
    assert(progress.read(spark, Schemas.transformerProgress)
      .filter(col("status") === "completed").isEmpty)
    val err = graft.core.Observability.health("last_error")
    assert(err.contains("schema drift") && err.contains("withdrawals"), err)
  }

  test("ingestChunksFused split + gate: part columns and gated slots (P19/F5 bulk wiring)") {
    val base = tmp()
    val ledger = LedgerStore(s"$base/cl")
    val rawDir = s"$base/raw_validators"
    val payload = """{"data":[{"index":"1","balance":"32"}]}"""
    val fetcher = MapSlotFetcher((0L to 3000L).map(_ -> payload).toMap)
    val gate = RawIngest.slotGate(cfg, None, dailyOnly = true)
    assert(RawIngest.ingestChunksFused(spark, cfg, fetcher, rawDir, ledger,
      "validators", Seq((0L, 3000L)), split = true, gate = Some(gate)))
    val raw = spark.read.parquet(rawDir)
    assert(raw.columns.contains("part_index") && raw.columns.contains("part_count"))
    // daily gate: only slot 2931 (the one UTC-day boundary in [0,3000]) fetched
    assert(raw.select("slot").distinct().collect().map(_.getLong(0)).toSeq === Seq(2931L))
  }

  test("ingestChunksPooled honors split + gate (P19/F5 pooled wiring)") {
    val base = tmp()
    val payload = """{"data":[{"index":"1","balance":"32"}]}"""
    val fetcher = MapSlotFetcher((0L to 3000L).map(_ -> payload).toMap)
    val gate = RawIngest.slotGate(cfg, None, dailyOnly = true)
    val oks = RawIngest.ingestChunksPooled(spark, cfg, fetcher, s"$base/raw",
      LedgerStore(s"$base/cl"), "validators", Seq((0L, 1500L), (1501L, 3000L)),
      workers = 2, split = true, gate = Some(gate))
    assert(oks === Seq(true, true))
    val raw = spark.read.parquet(s"$base/raw")
    assert(raw.columns.contains("part_index") && raw.columns.contains("part_count"))
    // daily gate: only slot 2931 (the one UTC-day boundary in [0,3000])
    assert(raw.select("slot").distinct().collect().map(_.getLong(0)).toSeq === Seq(2931L))
  }

  test("reprocess aborts BEFORE deleting outputs when the raw dir is missing (data-loss guard)") {
    val base = tmp()
    val rawDir = s"$base/raw_blocks"
    val outDir = s"$base/tables"
    val progress = LedgerStore(s"$base/progress")
    RawIngest.ingestChunk(spark, cfg, fetcherFor(0 until 50), rawDir,
      LedgerStore(s"$base/cl"), "blocks", 0, 49)
    assert(Transformer.transformBlocksChunk(spark, cfg, rawDir, outDir,
      progress, 0, 49, version = 1L))
    assert(spark.read.parquet(s"$outDir/blocks").count() === 40)
    // wrong --base / archived raw dir: reprocess must fail WITHOUT deleting
    assert(!Transformer.reprocess(spark, cfg, Loaders.blocks,
      s"$base/raw_blocks_ARCHIVED", outDir, progress, 0, 49))
    assert(spark.read.parquet(s"$outDir/blocks").count() === 40) // untouched
  }

  test("bootstrap persists raw genesis/specs that re-parse to the structured tables (S7 audit)") {
    val base = tmp()
    val genesisJson =
      """{"data":{"genesis_time":"1638993340","genesis_validators_root":"0xgvr","genesis_fork_version":"0x00000064"}}"""
    val specsJson =
      """{"data":{"SECONDS_PER_SLOT":"5","SLOTS_PER_EPOCH":"16"}}"""
    Foundation.bootstrap(spark, MapFoundationFetcher(genesisJson, specsJson), base, "gnosis")
    for ((dir, json) <- Seq(
        Foundation.rawGenesisDir(base) -> genesisJson,
        Foundation.rawSpecsDir(base) -> specsJson)) {
      val raw = spark.read.parquet(dir)
      assert(raw.count() === 1)
      val row = raw.head()
      assert(row.getAs[String]("payload") === json)
      assert(row.getAs[String]("payload_hash")
        === graft.functions.CanonicalJson.payloadHash16(json))
      assert(row.getAs[java.sql.Timestamp]("retrieved_at") != null)
    }
    // audit parity: re-parsing the stored raw payloads reproduces the
    // structured tables byte-for-byte
    val reG = Foundation.genesis(spark,
      spark.read.parquet(Foundation.rawGenesisDir(base)).head().getAs[String]("payload"))
    assert(reG.collect().toSeq === spark.read.parquet(Foundation.genesisDir(base))
      .select("genesis_time", "genesis_validators_root", "genesis_fork_version")
      .collect().toSeq)
    val reS = Foundation.specs(spark,
      spark.read.parquet(Foundation.rawSpecsDir(base)).head().getAs[String]("payload"))
      .select("parameter_name", "parameter_value").orderBy("parameter_name")
    assert(reS.collect().toSeq === spark.read.parquet(Foundation.specsDir(base))
      .select("parameter_name", "parameter_value").orderBy("parameter_name")
      .collect().toSeq)
  }

  test("corpus CLI verbs: dedup drops the planted near-dup, cap/sample/stats run (D10)") {
    import spark.implicits._
    val base = tmp()
    val long = (1 to 100).map(i => s"w$i").mkString(" ")
    // docs 0/1 near-dup (one-word edit); 2-21 distinct, all source "hot";
    // 22-23 distinct, source "cold"
    val rows =
      Seq((0L, long, "hot"), (1L, long.replace(" w50 ", " w50x "), "hot")) ++
        (2L to 21L).map(i =>
          (i, (1 to 60).map(j => s"u${i}_$j").mkString(" "), "hot")) ++
        Seq((22L, "alpha beta gamma delta epsilon zeta", "cold"),
          (23L, "eta theta iota kappa lambda mu", "cold"))
    rows.toDF("doc_id", "text", "source").write.parquet(s"$base/in")

    Main.corpusRun(spark, "dedup",
      Array("--in", s"$base/in", "--out", s"$base/dedup"))
    val deduped = spark.read.parquet(s"$base/dedup")
    assert(deduped.count() === 23) // doc 1 dropped, representative 0 kept
    assert(deduped.filter(col("doc_id") === 0).count() === 1)
    assert(deduped.filter(col("doc_id") === 1).count() === 0)
    // full rows survive, not just ids
    assert(deduped.columns.toSet === Set("doc_id", "text", "source"))

    Main.corpusRun(spark, "cap",
      Array("--in", s"$base/in", "--out", s"$base/cap",
        "--key-col", "source", "--cap", "5"))
    val capped = spark.read.parquet(s"$base/cap")
    assert(capped.filter(col("source") === "hot").count() === 5)
    assert(capped.filter(col("source") === "cold").count() === 2)
    assert(!capped.columns.contains("rk"))

    Main.corpusRun(spark, "sample",
      Array("--in", s"$base/in", "--out", s"$base/sample", "--pct", "1.0"))
    assert(spark.read.parquet(s"$base/sample").count() === 24) // pct=1 keeps all

    Main.corpusRun(spark, "upsample",
      Array("--in", s"$base/in", "--out", s"$base/up",
        "--key-col", "source", "--weights", "cold=3.0", "--default-weight", "1.0"))
    val up = spark.read.parquet(s"$base/up")
    assert(up.filter(col("source") === "cold").count() === 6) // 2 docs x 3
    assert(up.filter(col("source") === "hot").count() === 22) // weight 1
    assert(up.columns.contains("rep"))

    Main.corpusRun(spark, "export",
      Array("--in", s"$base/in", "--out", s"$base/shards", "--shards", "4"))
    val exported = spark.read.parquet(s"$base/shards")
    assert(exported.count() === 24)
    // shard is a pure function of the id: re-export shards identically
    Main.corpusRun(spark, "export",
      Array("--in", s"$base/in", "--out", s"$base/shards2", "--shards", "4"))
    val a = exported.select("doc_id", "shard").collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    val b = spark.read.parquet(s"$base/shards2")
      .select("doc_id", "shard").collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(a === b)

    // stats only prints — it must run cleanly on the same corpus
    Main.corpusRun(spark, "stats", Array("--in", s"$base/in"))
  }

  test("corpus CLI: bpetrain / quantiles / linededup --cdc verbs") {
    import spark.implicits._
    val base = tmp()
    val docs = Seq(
      (1L, "a b c a b c a b", 1.0),
      (2L, "a b x y a b", 2.0),
      (3L, "z z z z", 3.0)).toDF("doc_id", "text", "value")
    docs.write.parquet(s"$base/in")

    Main.corpusRun(spark, "bpetrain",
      Array("--in", s"$base/in", "--out", s"$base/merges",
        "--merges", "2", "--joiner", "_"))
    val merges = spark.read.parquet(s"$base/merges").orderBy("rank")
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
    // (a,b) dominates at 5; z z z z contributes (z,z)=3
    assert(merges.head === ((0, "a", "b", 5L)))
    assert(merges.length === 2)

    Main.corpusRun(spark, "quantiles",
      Array("--in", s"$base/in", "--out", s"$base/q",
        "--group-by", "doc_id", "--value-col", "value", "--key-col", "doc_id",
        "--k", "16", "--q", "0.5"))
    val q = spark.read.parquet(s"$base/q")
    assert(q.count() === 3)
    assert(q.columns.toSet === Set("doc_id", "n_sample", "p50"))

    // --cdc: repeated passage dedups across an offset shift
    val passage = (1 to 60).map(i => s"p$i").mkString(" ")
    Seq((1L, passage), (2L, "shift prefix " + passage))
      .toDF("doc_id", "text").write.parquet(s"$base/cdcin")
    Main.corpusRun(spark, "linededup",
      Array("--in", s"$base/cdcin", "--out", s"$base/cdcout", "--cdc"))
    val out = spark.read.parquet(s"$base/cdcout").orderBy("doc_id").collect()
    assert(out.length === 2)
    val (n2, k2) = (out(1).getAs[Long]("n_chunks"), out(1).getAs[Long]("n_kept"))
    assert(k2 < n2, s"doc 2 should lose shared CDC chunks ($k2 of $n2 kept)")
  }

  test("corpus CLI: kmeans / spandedup / blocklist verbs") {
    import spark.implicits._
    val base = tmp()
    // kmeans: 2 planted far-apart clusters, ids 0 and 1 seed one each
    val vecs = (0L until 20L).map { i =>
      val c = (i % 2).toInt
      (i, Seq.fill(4)(0f).updated(c, 10f).zipWithIndex
        .map { case (v, j) => v + (i * 7 + j) % 3 * 0.01f })
    }
    vecs.toDF("doc_id", "embedding").write.parquet(s"$base/vin")
    Main.corpusRun(spark, "kmeans",
      Array("--in", s"$base/vin", "--out", s"$base/km", "--k", "2", "--iters", "3"))
    val asg = spark.read.parquet(s"$base/km/assign").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((0L until 20L).forall(i => asg(i) == asg(i % 2)), s"impure: $asg")
    assert(spark.read.parquet(s"$base/km/centroids").count() === 8) // k*dim

    // spandedup: docs 1/2 share a 4-token span
    Seq((1L, "a b c d x y z"), (2L, "p q a b c d"), (3L, "u v w s t r"))
      .toDF("doc_id", "text").write.parquet(s"$base/sin")
    Main.corpusRun(spark, "spandedup",
      Array("--in", s"$base/sin", "--out", s"$base/sout", "--w", "4"))
    val spans = spark.read.parquet(s"$base/sout").orderBy("doc_id").collect()
    assert(spans(0).getAs[String]("kept_text") === "x y z")
    assert(spans(2).getAs[Long]("covered_tokens") === 0L)

    // blocklist: substring hits incl. an intra-word fragment
    Main.corpusRun(spark, "blocklist",
      Array("--in", s"$base/sin", "--out", s"$base/bl",
        "--patterns", "a b,q", "--max-hits", "0"))
    val bl = spark.read.parquet(s"$base/bl").orderBy("doc_id").collect()
    assert(bl(0).getAs[Long]("n_hits") === 1L && bl(0).getAs[Boolean]("flagged"))
    assert(bl(1).getAs[Long]("n_hits") === 2L) // "q" + "a b"
    assert(bl(2).getAs[Long]("n_hits") === 0L && !bl(2).getAs[Boolean]("flagged"))

    // diff: doc 2's text changes, doc 3 removed, doc 4 added
    Seq((1L, "a b c d x y z"), (2L, "CHANGED"), (4L, "brand new"))
      .toDF("doc_id", "text").write.parquet(s"$base/new")
    Main.corpusRun(spark, "diff",
      Array("--in", s"$base/new", "--against", s"$base/sin", "--out", s"$base/diff"))
    val diff = spark.read.parquet(s"$base/diff")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(diff === Map(1L -> "same", 2L -> "changed", 3L -> "removed", 4L -> "added"))

    // shuffle: deterministic, order is a pure function of (seed, id)
    Main.corpusRun(spark, "shuffle",
      Array("--in", s"$base/sin", "--out", s"$base/shuf", "--seed", "e1", "--shards", "2"))
    val keys = spark.read.parquet(s"$base/shuf")
      .select("doc_id", "shuffle_key").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(keys.size === 3 && keys.values.toSet.size === 3)

    // curriculum: bucketed easy→hard + within-bucket shuffle; the single
    // written shard is already in curriculum order (bucket, shuffle_key)
    Seq((1L, "s", "w"), (2L, "s", "w w"), (3L, "s", "w w w"),
      (4L, "s", "w"), (5L, "s", "w w"), (6L, "s", "w w w"))
      .toDF("doc_id", "source", "text").write.parquet(s"$base/cin")
    Main.corpusRun(spark, "curriculum",
      Array("--in", s"$base/cin", "--out", s"$base/cout", "--shards", "1"))
    val cur = spark.read.parquet(s"$base/cout")
      .select("doc_id", "bucket", "shuffle_key").collect()
    assert(cur.length === 6)
    val bucketsInOrder = cur.map(_.getInt(1)).toSeq
    assert(bucketsInOrder === bucketsInOrder.sorted,
      s"file order must be curriculum order: $bucketsInOrder")
    // 1-token docs = bucket 1, 3-token docs = bucket 3
    val byId = cur.map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(byId(1L) === 1 && byId(4L) === 1 && byId(3L) === 3 && byId(6L) === 3)

    // knngraph + dbscan over a tiny embedding corpus
    Seq(
      (1L, Seq(1f, 0f, 0f)), (2L, Seq(0.99f, 0.1f, 0f)), (3L, Seq(0.98f, -0.1f, 0f)),
      (9L, Seq(0f, 0f, 1f))).toDF("doc_id", "embedding")
      .write.parquet(s"$base/vecs")
    Main.corpusRun(spark, "knngraph",
      Array("--in", s"$base/vecs", "--out", s"$base/knn",
        "--k", "2", "--planes", "1", "--bands", "4", "--seed", "7"))
    val knn = spark.read.parquet(s"$base/knn")
    assert(knn.filter(col("src") === 1L).count() >= 1)
    Main.corpusRun(spark, "dbscan",
      Array("--in", s"$base/vecs", "--out", s"$base/db",
        "--tau", "0.9", "--min-pts", "3", "--planes", "1", "--bands", "4", "--seed", "7"))
    val db = spark.read.parquet(s"$base/db")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(db(1L) === "core" && db(9L) === "noise")

    // graphsearch over the materialized knn dir: from entry 3 the beam
    // must find 2 (the nearest to 1's vector after 3 itself via the
    // graph); single-query and batched paths both drive the verb
    val out1 = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(out1)) {
      Main.corpusRun(spark, "graphsearch",
        Array("--in", s"$base/vecs", "--graph", s"$base/knn",
          "--query-id", "1", "--k", "1", "--beam", "2", "--hops", "2",
          "--entry-ids", "3"))
    }
    assert(out1.toString.trim.linesIterator.toSeq.head === "1\t2",
      s"graphsearch single: ${out1.toString}")
    val out2 = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(out2)) {
      Main.corpusRun(spark, "graphsearch",
        Array("--in", s"$base/vecs", "--graph", s"$base/knn",
          "--query-ids", "1,2", "--k", "1", "--beam", "2", "--hops", "2",
          "--entry-ids", "3"))
    }
    val batchLines = out2.toString.trim.linesIterator.toSeq
    assert(batchLines.contains("1\t1\t2") && batchLines.exists(_.startsWith("2\t1\t")),
      s"graphsearch batched: ${out2.toString}")
  }

  test("corpus CLI: dedup --against sweeps the reference corpus first") {
    import spark.implicits._
    val base = tmp()
    val boiler = (1 to 40).map(i => s"b$i").mkString(" ")
    val nearBoiler = boiler.replace(" b20 ", " b20x ")
    Seq((100L, boiler), (101L, (1 to 40).map(i => s"r$i").mkString(" ")))
      .toDF("doc_id", "text").write.parquet(s"$base/ref")
    Seq(
      (1L, boiler),                                       // exact dup of ref
      (2L, nearBoiler),                                   // near-dup of ref
      (3L, (1 to 40).map(i => s"n$i").mkString(" ")),     // novel
      (4L, (1 to 40).map(i => s"n$i").mkString(" ")))     // within-corpus dup of 3
      .toDF("doc_id", "text").write.parquet(s"$base/in")
    Main.corpusRun(spark, "dedup",
      Array("--in", s"$base/in", "--out", s"$base/out",
        "--against", s"$base/ref"))
    val kept = spark.read.parquet(s"$base/out")
      .select("doc_id").as[Long].collect().toSet
    // 1 dropped by the exact sweep, 2 by the near-dup sweep, 4 by the
    // within-corpus pass; only the novel representative survives
    assert(kept === Set(3L), s"got $kept")
  }

  test("corpus CLI: semdedup / scrub / lmfilter verbs (D10)") {
    import spark.implicits._
    val base = tmp()
    // semdedup: the Scale generator's planted embedding dups (every 20th
    // vector near-identical to its successor) must be the rows dropped
    Scale.genEmbCorpus(spark, 100L).write.parquet(s"$base/emb")
    Main.corpusRun(spark, "semdedup",
      Array("--in", s"$base/emb", "--out", s"$base/semdedup", "--id-col", "vec_id"))
    val kept = spark.read.parquet(s"$base/semdedup")
    assert(kept.count() === 95) // 5 planted dups dropped (ids 0,20,40,60,80... keep min id)
    // representative = min id of each pair {i, i+1}: the planted i stays
    assert(kept.filter(col("vec_id").isin(0L, 20L, 40L, 60L, 80L)).count() === 5)
    assert(kept.filter(col("vec_id").isin(1L, 21L, 41L, 61L, 81L)).count() === 0)

    // scrub: text column rewritten in place, other columns untouched
    Seq((1L, "mail me a@b.io or 555-123-4567", "keepme"))
      .toDF("doc_id", "text", "extra").write.parquet(s"$base/pii")
    Main.corpusRun(spark, "scrub",
      Array("--in", s"$base/pii", "--out", s"$base/scrubbed"))
    val scrubbed = spark.read.parquet(s"$base/scrubbed").head()
    assert(scrubbed.getAs[String]("text") === "mail me [EMAIL] or [PHONE]")
    assert(scrubbed.getAs[String]("extra") === "keepme")

    // lmfilter: docs whose bigrams the reference never saw are dropped
    Seq((1L, "a b c d"), (2L, "x y z w")).toDF("doc_id", "text")
      .write.parquet(s"$base/lmin")
    Seq((9L, "a b c d e")).toDF("doc_id", "text").write.parquet(s"$base/lmref")
    Main.corpusRun(spark, "lmfilter",
      Array("--in", s"$base/lmin", "--out", s"$base/lmout",
        "--ref", s"$base/lmref", "--max-novelty", "0.5"))
    assert(spark.read.parquet(s"$base/lmout")
      .select("doc_id").as[Long].collect().toSeq === Seq(1L))
  }

  test("corpus CLI: semdedup --via dbscan — one argmax-quality survivor per cluster (D10)") {
    import spark.implicits._
    val base = tmp()
    Scale.genEmbCorpus(spark, 100L).write.parquet(s"$base/emb")
    // min-pts 2: each planted pair {i, i+1} is a two-core cluster; the
    // default quality key is the id itself, so the NEWEST copy survives
    // (the d16 argmax rule — the groups path keeps the min id instead)
    Main.corpusRun(spark, "semdedup",
      Array("--in", s"$base/emb", "--out", s"$base/sd2", "--id-col", "vec_id",
        "--via", "dbscan", "--min-pts", "2"))
    val kept = spark.read.parquet(s"$base/sd2")
    assert(kept.count() === 95)
    assert(kept.filter(col("vec_id").isin(1L, 21L, 41L, 61L, 81L)).count() === 5)
    assert(kept.filter(col("vec_id").isin(0L, 20L, 40L, 60L, 80L)).count() === 0)
  }

  test("corpus CLI: annindex --trainer exact — full-corpus distributed coarse quantizer (D10)") {
    val base = tmp()
    Scale.genEmbCorpus(spark, 200L).write.parquet(s"$base/emb")
    Main.corpusRun(spark, "annindex",
      Array("--in", s"$base/emb", "--out", s"$base/idx", "--id-col", "vec_id",
        "--lists", "4", "--trainer", "exact"))
    val idx = spark.read.parquet(s"$base/idx")
    assert(idx.count() === 200)
    assert(idx.select("list_id").distinct().count() <= 4)
    // the persisted centroid artifact has exactly `lists` rows, so
    // annquery probes the exact-trained quantizer without retraining
    val cents = java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$base/idx", "_ann_centroids.tsv")).split("\n")
    assert(cents.length === 4 && cents.forall(_.split(",").length === 64))
  }

  test("corpus CLI: incremental — cached verdicts + delta processing equal the full re-run (D10)") {
    import spark.implicits._
    val base = tmp()
    def mk(i: Int, tag: String) =
      (i.toLong, (1 to 80).map(j => s"$tag${i}w$j").mkString(" "))
    val v1 = (1 to 30).map(mk(_, "a")).toDF("doc_id", "text")
    // v2: doc 5 changed, doc 7 removed, doc 31 added
    val v2 = ((1 to 30).filterNot(_ == 7)
      .map(i => if (i == 5) mk(5, "b") else mk(i, "a")) :+ mk(31, "a"))
      .toDF("doc_id", "text")
    v1.write.parquet(s"$base/v1")
    v2.write.parquet(s"$base/v2")
    // bootstrap path (no --cache): v1 verdicts computed, delta processed
    Main.corpusRun(spark, "incremental",
      Array("--in", s"$base/v2", "--against", s"$base/v1", "--out", s"$base/c2"))
    val got = spark.read.parquet(s"$base/c2")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val want = graft.operators.IncrementalCurate
      .perDocVerdicts(v2, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got === want, "incremental verdicts diverged from the full re-run")
    assert(!got.exists(_._1 == 7L), "removed doc leaked through")
    // cached path: v3 == v2 (all same) reuses c2 untouched
    Main.corpusRun(spark, "incremental",
      Array("--in", s"$base/v2", "--against", s"$base/v2",
        "--cache", s"$base/c2", "--out", s"$base/c3"))
    val got3 = spark.read.parquet(s"$base/c3")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got3 === want)
  }

  test("IncrementalCurate.applyDeltaBatch: per-batch cache fold; replay is idempotent (r20 substrate)") {
    import graft.operators.{Dedup, IncrementalCurate}
    import spark.implicits._
    val base = tmp()
    def mk(i: Int, tag: String) =
      (i.toLong, (1 to 80).map(j => s"$tag${i}w$j").mkString(" "))
    val v1 = (1 to 30).map(mk(_, "a")).toDF("doc_id", "text")
    val v2 = ((1 to 30).filterNot(_ == 7)
      .map(i => if (i == 5) mk(5, "b") else mk(i, "a")) :+ mk(31, "a"))
      .toDF("doc_id", "text")
    val cache = s"$base/cache"
    IncrementalCurate.perDocVerdicts(v1, "doc_id", "text")
      .write.parquet(s"$cache/v0")
    // one delta batch carrying all three statuses (removed rows NULL text)
    val deltas = Dedup.corpusDiff(v1, v2, "doc_id", "text")
      .filter(col("status") =!= "same")
      .join(v2, Seq("doc_id"), "left")
    IncrementalCurate.applyDeltaBatch(cache, deltas, 0L, "doc_id", "text")
    val once = spark.read.parquet(s"$cache/v1")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    // REPLAY batch 0 (a restart re-delivers it): v1 is rewritten from the
    // same v0 input — byte-identical, the exactly-once-by-idempotence claim
    IncrementalCurate.applyDeltaBatch(cache, deltas, 0L, "doc_id", "text")
    val twice = spark.read.parquet(s"$cache/v1")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(twice === once, "replaying a batch changed the cache")
    // and the folded cache equals the full recompute over v2
    val want = IncrementalCurate.perDocVerdicts(v2, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(once === want)
    assert(!once.exists(_._1 == 7L), "removed doc leaked through the fold")
  }

  test("IncrementalCurate.applyDeltaBatchBucketed: delta buckets only; replay idempotent; emptied bucket dir deleted (r21 substrate)") {
    import graft.operators.{Dedup, IncrementalCurate}
    import spark.implicits._
    val base = tmp()
    def mk(i: Int, tag: String) =
      (i.toLong, (1 to 80).map(j => s"$tag${i}w$j").mkString(" "))
    val v1 = (1 to 30).map(mk(_, "a")).toDF("doc_id", "text")
    val v2 = ((1 to 30).filterNot(_ == 7)
      .map(i => if (i == 5) mk(5, "b") else mk(i, "a")) :+ mk(31, "a"))
      .toDF("doc_id", "text")
    val cache = s"$base/cache"
    val buckets = 4
    IncrementalCurate.seedBucketedCache(cache,
      IncrementalCurate.perDocVerdicts(v1, "doc_id", "text"), "doc_id", buckets)
    val dirsBefore = new java.io.File(s"$cache/live").listFiles()
      .filter(_.getName.startsWith("bucket=")).map(_.getName).toSet
    // untouched-bucket evidence: record each bucket dir's mtime, apply a
    // SINGLE-doc batch, and require only that doc's bucket dir changed
    val deltas = Dedup.corpusDiff(v1, v2, "doc_id", "text")
      .filter(col("status") =!= "same")
      .join(v2, Seq("doc_id"), "left").persist()
    val oneDoc = deltas.filter(col("doc_id") === 31L)
    def dirFiles(): Map[String, Set[String]] =
      new java.io.File(s"$cache/live").listFiles()
        .filter(_.getName.startsWith("bucket=")).map(d =>
          d.getName -> d.listFiles().map(_.getName).toSet).toMap
    val filesBefore = dirFiles()
    IncrementalCurate.applyDeltaBatchBucketed(cache, oneDoc,
      "doc_id", "text", buckets)
    val filesAfterOne = dirFiles()
    val doc31Bucket = {
      val b = v2.filter(col("doc_id") === 31L)
        .select(pmod(xxhash64(col("doc_id")), lit(buckets.toLong))).head().getLong(0)
      s"bucket=$b"
    }
    filesBefore.keySet.foreach { d =>
      if (d == doc31Bucket)
        assert(filesBefore(d) != filesAfterOne(d), s"$d should be rewritten")
      else
        assert(filesBefore(d) == filesAfterOne(d), s"$d rewritten without a delta id")
    }
    // now the rest of the delta, then a replay of the whole delta: the
    // cache must converge to the full recompute and stay there
    IncrementalCurate.applyDeltaBatchBucketed(cache,
      deltas.filter(col("doc_id") =!= 31L), "doc_id", "text", buckets)
    def liveSet() = spark.read.parquet(s"$cache/live")
      .select("doc_id", "h")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val once = liveSet()
    IncrementalCurate.applyDeltaBatchBucketed(cache, deltas,
      "doc_id", "text", buckets)
    assert(liveSet() === once, "replaying the delta changed the cache")
    val want = IncrementalCurate.perDocVerdicts(v2, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(once === want)
    // emptied-bucket cleanup: remove EVERY doc (a delta whose statuses are
    // all `removed`) — dynamic overwrite can't rewrite an empty partition,
    // so the bucket dirs must be deleted explicitly
    val removeAll = v2.select(col("doc_id"), lit("removed").as("status"),
      lit(null).cast("string").as("text"))
      .select("doc_id", "status", "text")
    IncrementalCurate.applyDeltaBatchBucketed(cache, removeAll,
      "doc_id", "text", buckets)
    val dirsAfter = Option(new java.io.File(s"$cache/live").listFiles())
      .map(_.filter(_.getName.startsWith("bucket=")).map(_.getName).toSet)
      .getOrElse(Set.empty[String])
    assert(dirsBefore.nonEmpty && dirsAfter.isEmpty,
      s"emptied bucket dirs must be deleted: before=$dirsBefore after=$dirsAfter")
    deltas.unpersist(blocking = false)
  }

  test("corpus CLI: incrneardup + imagededup verbs (D10)") {
    import graft.operators.Dedup
    import spark.implicits._
    val base = tmp()
    def doc(i: Int, tag: String) =
      (i.toLong, (1 to 12).map(j => s"$tag${i}t$j").mkString(" "))
    val v1 = ((1 to 20).map(doc(_, "a")) :+ (104L, doc(3, "a")._2))
      .toDF("doc_id", "text")
    val v2 = ((1 to 20).filterNot(_ == 7)
      .map(i => if (i == 5) doc(5, "b") else doc(i, "a"))
      ++ Seq(doc(21, "a"), (109L, doc(9, "a")._2), (104L, doc(3, "a")._2)))
      .toDF("doc_id", "text")
    v1.write.parquet(s"$base/v1")
    v2.write.parquet(s"$base/v2")
    // bootstrap path (no --cache): previous assets derived from OLDDIR
    Main.corpusRun(spark, "incrneardup",
      Array("--in", s"$base/v2", "--against", s"$base/v1", "--out", s"$base/nd",
        "--num-hashes", "4", "--rows-per-band", "2", "--shingle-w", "2"))
    val got = spark.read.parquet(s"$base/nd/pairs")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = Dedup.pairsFromBandRows(
      Dedup.minhashBandRows(v2, "doc_id", "text", 4, 2, 2))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === want, "CLI incremental pairs diverged from full recompute")
    // the written band cache is the next snapshot's carry input
    assert(spark.read.parquet(s"$base/nd/bands").count() > 0)

    // imagededup over a hashed frame (no --bin-col): planted flip pairs
    val imgs = Seq(
      (1L, 8, 8, 0xF0F0L), (2L, 8, 8, 0xF0F1L), (3L, 8, 8, 0x0F0FL))
      .toDF("doc_id", "width", "height", "ahash")
    imgs.write.parquet(s"$base/imgs")
    Main.corpusRun(spark, "imagededup",
      Array("--in", s"$base/imgs", "--out", s"$base/ip", "--max-hamming", "3"))
    val pairs = spark.read.parquet(s"$base/ip")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(pairs === Set((1L, 2L, 1)), s"got $pairs")
  }

  test("corpus CLI: curate — the composed funnel drops each planted offender (D10)") {
    import spark.implicits._
    val base = tmp()
    val good = (1 to 80).map(i => s"w$i").mkString(" ")
    def uniq(tag: String) = (1 to 80).map(i => s"$tag$i").mkString(" ")
    val rows = Seq(
      (1L, good),                                    // survives everything
      (2L, "short"),                                 // quality: too_short
      (3L, good.replace(" w40 ", " w40x ")),         // near-dup of 1
      (4L, uniq("u4")),                              // survives
      (5L, uniq("u5") + " bench marker phrase here alpha beta gamma delta"), // decontam hit
      (6L, uniq("u6"))                               // survives
    ).toDF("doc_id", "text")
    rows.write.parquet(s"$base/in")
    // benchmark shares an 8-gram with doc 5
    Seq((100L, "bench marker phrase here alpha beta gamma delta"))
      .toDF("bench_id", "text").write.parquet(s"$base/bench")
    Main.corpusRun(spark, "curate",
      Array("--in", s"$base/in", "--out", s"$base/out",
        "--ref-bench", s"$base/bench", "--shards", "2"))
    val out = spark.read.parquet(s"$base/out")
    val kept = out.select("doc_id").as[Long].collect().sorted.toSeq
    assert(kept === Seq(1L, 4L, 6L),
      s"funnel should keep 1/4/6 (drop short 2, near-dup 3, contaminated 5), got $kept")
    assert(out.columns.contains("shard"))
    // the near-dup representative keeps its full (chunk-level-rewritten) text
    assert(out.filter(col("doc_id") === 1).head().getAs[String]("text") === good)

    // with --dsir-target the importance stage slots between classify and
    // near-dup: target = doc 4's vocabulary, keep half → off-target docs
    // fall before dedup ever sees them
    Seq((200L, uniq("u4"))).toDF("doc_id", "text")
      .write.parquet(s"$base/dsir_tgt")
    Main.corpusRun(spark, "curate",
      Array("--in", s"$base/in", "--out", s"$base/out_dsir",
        "--dsir-target", s"$base/dsir_tgt", "--dsir-keep", "0.3"))
    val keptD = spark.read.parquet(s"$base/out_dsir")
      .select("doc_id").as[Long].collect().toSet
    assert(keptD.contains(4L),
      s"the target-vocabulary doc must survive the DSIR cut: $keptD")
    assert(keptD.size < 5, s"the cut must actually drop docs: $keptD")
  }

  test("corpus CLI: annindex / annquery round-trip (D10)") {
    val base = tmp()
    Scale.genClusteredEmbCorpus(spark, 2000L).write.parquet(s"$base/emb")
    Main.corpusRun(spark, "annindex",
      Array("--in", s"$base/emb", "--out", s"$base/idx",
        "--id-col", "vec_id", "--lists", "16"))
    // index is self-contained: partitioned parquet + trained params
    assert(new java.io.File(s"$base/idx/_ann_centroids.tsv").exists())
    assert(new java.io.File(s"$base/idx/_ann_codebooks.tsv").exists())
    val idx = spark.read.parquet(s"$base/idx")
    assert(idx.count() === 2000L)
    assert(idx.columns.toSet.intersect(Set("sq8_code", "pq_code", "list_id")).size === 3)
    // annquery prints "<id>\t<cosine>" lines; capture stdout for both paths
    def queryIds(path: String): Seq[Long] = {
      val bos = new java.io.ByteArrayOutputStream()
      Console.withOut(new java.io.PrintStream(bos)) {
        Main.corpusRun(spark, "annquery",
          Array("--in", s"$base/idx", "--id-col", "vec_id",
            "--query-id", "7", "--k", "5", "--nprobe", "8", "--path", path))
      }
      bos.toString.linesIterator.map(_.split("\t")(0).toLong).toSeq
    }
    val pqIds = queryIds("pq")
    val sq8Ids = queryIds("sq8")
    assert(pqIds.size === 5 && sq8Ids.size === 5)
    assert(!pqIds.contains(7L) && !sq8Ids.contains(7L))
    // sanity: the quantized probes agree with brute force on most of top-5
    val q = spark.read.parquet(s"$base/emb")
      .filter(col("vec_id") === 7L).select("embedding").head().getSeq[Float](0)
    val brute = graft.operators.Similarity.bruteForceTopK(
      spark.read.parquet(s"$base/emb").filter(col("vec_id") =!= 7L),
      "vec_id", "embedding", q, 5).collect().map(_.getLong(0)).toSet
    assert(sq8Ids.toSet.intersect(brute).size >= 4, s"sq8 $sq8Ids vs brute $brute")
    assert(pqIds.toSet.intersect(brute).size >= 3, s"pq $pqIds vs brute $brute")
    // --diverse: MMR rerank over the probe pool — k valid distinct ids,
    // query excluded, and the TOP relevance hit still leads (no penalty
    // applies to the first pick)
    val dBos = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(dBos)) {
      Main.corpusRun(spark, "annquery",
        Array("--in", s"$base/idx", "--id-col", "vec_id",
          "--query-id", "7", "--k", "5", "--nprobe", "16", "--path", "sq8",
          "--diverse", "--pool", "20"))
    }
    val dIds = dBos.toString.linesIterator.map(_.split("\t")(0).toLong).toSeq
    assert(dIds.size === 5 && dIds.distinct.size === 5 && !dIds.contains(7L))
    assert(dIds.head === sq8Ids.head,
      s"first MMR pick must be the top-relevance hit: $dIds vs $sq8Ids")
  }

  test("corpus CLI: annindex --append grows the index with the same trained params") {
    val base = tmp()
    val corpus = Scale.genClusteredEmbCorpus(spark, 2000L)
    corpus.filter(col("vec_id") < 1500).write.parquet(s"$base/emb1")
    corpus.filter(col("vec_id") >= 1500).write.parquet(s"$base/emb2")
    Main.corpusRun(spark, "annindex",
      Array("--in", s"$base/emb1", "--out", s"$base/idx",
        "--id-col", "vec_id", "--lists", "16"))
    Main.corpusRun(spark, "annindex",
      Array("--in", s"$base/emb2", "--out", s"$base/idx",
        "--id-col", "vec_id", "--append"))
    val idx = spark.read.parquet(s"$base/idx")
    assert(idx.count() === 2000L)
    // appended rows carry the full code-column surface
    assert(idx.filter(col("vec_id") >= 1500)
      .filter(col("sq8_code").isNotNull && col("pq_code").isNotNull)
      .count() === 500L)
    // the manifest includes the appended files: a probe sees new vectors
    val bos = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(bos)) {
      Main.corpusRun(spark, "annquery",
        Array("--in", s"$base/idx", "--id-col", "vec_id",
          "--query-id", "1600", "--k", "3", "--nprobe", "16", "--path", "sq8"))
    }
    val ids = bos.toString.linesIterator.map(_.split("\t")(0).toLong).toSeq
    assert(ids.size === 3 && !ids.contains(1600L))
  }

  test("corpus CLI: pack / chunk verbs (D10)") {
    import spark.implicits._
    val base = tmp()
    Seq((1L, "a b c d e"), (2L, "f g h"), (3L, "i j"))
      .toDF("doc_id", "text").write.parquet(s"$base/pc_in")
    Main.corpusRun(spark, "pack",
      Array("--in", s"$base/pc_in", "--out", s"$base/packed",
        "--window-tokens", "4"))
    val packed = spark.read.parquet(s"$base/packed")
      .select("doc_id", "n_tokens", "start_offset", "window_id", "crosses")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4)))).toMap
    assert(packed(1L) == ((5L, 0L, 0L, true)))  // 5 tokens cross window 0
    assert(packed(2L) == ((3L, 5L, 1L, false))) // offsets 5..7 stay in window 1
    assert(packed(3L) == ((2L, 8L, 2L, false)))
    Main.corpusRun(spark, "chunk",
      Array("--in", s"$base/pc_in", "--out", s"$base/chunks",
        "--chunk-tokens", "3", "--stride", "2"))
    val chunks = spark.read.parquet(s"$base/chunks")
    assert(chunks.filter(col("doc_id") === 1L).count() == 3) // starts 0,2,4
    assert(chunks.filter(col("doc_id") === 1L && col("chunk_idx") === 0)
      .head().getAs[String]("chunk_text") == "a b c")
  }

  test("corpus CLI: dsir / pagerank verbs (D10)") {
    import spark.implicits._
    val base = tmp()
    // raw corpus: 1/2 target-like vocabulary, 3/4 off-vocabulary
    Seq((1L, "alpha beta gamma alpha beta"),
      (2L, "beta alpha alpha gamma gamma"),
      (3L, "zulu yankee xray whiskey victor"),
      (4L, "uniform tango sierra romeo quebec"))
      .toDF("doc_id", "text").write.parquet(s"$base/dsir_in")
    Seq((100L, "alpha beta gamma beta alpha gamma"))
      .toDF("doc_id", "text").write.parquet(s"$base/dsir_target")
    Main.corpusRun(spark, "dsir",
      Array("--in", s"$base/dsir_in", "--out", s"$base/dsir_out",
        "--target", s"$base/dsir_target", "--keep-fraction", "0.5",
        "--buckets", "64"))
    val kept = spark.read.parquet(s"$base/dsir_out")
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(1L, 2L), s"target-vocab docs must survive: $kept")
    Main.corpusRun(spark, "dsir",
      Array("--in", s"$base/dsir_in", "--out", s"$base/dsir_w",
        "--target", s"$base/dsir_target", "--buckets", "64",
        "--weights-only"))
    val w = spark.read.parquet(s"$base/dsir_w")
    assert(w.count() == 4 &&
      w.columns.toSet == Set("doc_id", "n_tokens", "weight"))

    // train-once/apply-sharded round trip: --save-ratios then --ratios
    // must reproduce the train-and-score weights exactly
    Main.corpusRun(spark, "dsir",
      Array("--in", s"$base/dsir_in", "--out", s"$base/dsir_w1",
        "--target", s"$base/dsir_target", "--buckets", "64",
        "--save-ratios", s"$base/dsir_rt", "--weights-only"))
    Main.corpusRun(spark, "dsir",
      Array("--in", s"$base/dsir_in", "--out", s"$base/dsir_w2",
        "--ratios", s"$base/dsir_rt", "--buckets", "64", "--weights-only"))
    val w1 = spark.read.parquet(s"$base/dsir_w1")
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val w2 = spark.read.parquet(s"$base/dsir_w2")
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(w1 == w2, "precomputed-ratio apply must equal train-and-score")

    Seq(("a", "b", 3L), ("a", "c", 1L), ("b", "a", 1L), ("c", "a", 1L))
      .toDF("src", "dst", "w").write.parquet(s"$base/edges")
    Main.corpusRun(spark, "pagerank",
      Array("--in", s"$base/edges", "--out", s"$base/ranks",
        "--iterations", "20"))
    val ranks = spark.read.parquet(s"$base/ranks")
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(ranks.size == 3)
    assert(ranks("b") > ranks("c"), s"3:1 weight skew must rank b>c: $ranks")

    // personalized: seeding c boosts c RELATIVE to b (c forwards its
    // teleport mass to a, which still splits 3:1 toward b — so the
    // absolute order may hold, but the c/b ratio must rise)
    Seq("c").toDF("node").write.parquet(s"$base/seeds")
    Main.corpusRun(spark, "pagerank",
      Array("--in", s"$base/edges", "--out", s"$base/ranks_pers",
        "--iterations", "20", "--seeds", s"$base/seeds"))
    val pers = spark.read.parquet(s"$base/ranks_pers")
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(pers("c") / pers("b") > ranks("c") / ranks("b"),
      s"seeding c must boost c relative to b: $pers vs $ranks")
  }

  test("corpus CLI: linededup / classify verbs (D10)") {
    import spark.implicits._
    val base = tmp()
    // doc 2 repeats doc 1's chunk "x y" and keeps its own tail; doc 3 is
    // ENTIRELY doc 1's chunks — it must drop out of the rewritten corpus
    Seq((1L, "x y a b", "s0"), (2L, "x y c d", "s1"), (3L, "x y", "s2"))
      .toDF("doc_id", "text", "source").write.parquet(s"$base/ld_in")
    Main.corpusRun(spark, "linededup",
      Array("--in", s"$base/ld_in", "--out", s"$base/ld_out",
        "--chunk-tokens", "2"))
    val ld = spark.read.parquet(s"$base/ld_out")
    assert(ld.count() === 2)
    val byId = ld.collect().map(r =>
      r.getAs[Long]("doc_id") -> r.getAs[String]("text")).toMap
    assert(byId === Map(1L -> "x y a b", 2L -> "c d"))
    // non-text columns survive the rewrite
    assert(ld.filter(col("doc_id") === 2).head().getAs[String]("source") === "s1")

    // --self scopes the repeat check to each doc: doc 2's "x y" SURVIVES
    // (doc 1 is irrelevant), doc 3 is untouched; only within-doc repeats
    // would drop
    Main.corpusRun(spark, "linededup",
      Array("--in", s"$base/ld_in", "--out", s"$base/ld_self",
        "--chunk-tokens", "2", "--self"))
    val selfOut = spark.read.parquet(s"$base/ld_self").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text")).toMap
    assert(selfOut === Map(1L -> "x y a b", 2L -> "x y c d", 3L -> "x y"))

    // classify: gate = scored().keep — verified against the operator.
    // Token-DISJOINT docs, so per-doc scores are independent hash draws
    // and the threshold splits the corpus
    val docs = (1L to 50L).map(i => (i, s"tok${i}a tok${i}b tok${i}c"))
      .toDF("doc_id", "text")
    docs.write.parquet(s"$base/cl_in")
    Main.corpusRun(spark, "classify",
      Array("--in", s"$base/cl_in", "--out", s"$base/cl_out"))
    val kept = spark.read.parquet(s"$base/cl_out")
      .select("doc_id").as[Long].collect().sorted
    val expected = graft.operators.Classifier.scored(docs, "doc_id", "text")
      .filter(col("keep")).select("doc_id").as[Long].collect().sorted
    assert(kept === expected)
    assert(kept.nonEmpty && kept.length < 50)
  }
}
