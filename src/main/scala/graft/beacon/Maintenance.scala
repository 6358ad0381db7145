package graft.beacon

import graft.core.Tables
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Maintenance surface (D5–D7; reference: src/services/maintenance.py):
  * integrity check, fix (delete + reload window), chunk reset.
  *
  * Deletion on parquet = partition-scoped rewrite: only the month
  * partitions overlapping the slot range are read back, filtered, and
  * overwritten (dynamic partition overwrite) — the 100 TB-safe analog of
  * the reference's `ALTER TABLE … DELETE` mutations, without the mutation
  * queue backpressure dance (maintenance.py:140-205).
  */
object Maintenance {

  /** D6: integrity report — failed chunks + completed-but-untransformed
    * anti-join (reference: maintenance.py:577-667). `loaders` is treated
    * as a SET (the report is per-chunk; a duplicated loader name does
    * not duplicate rows).
    *
    * r17: ONE fused anti-join for every loader instead of the old
    * per-loader [[Ledger.untransformedChunks]] branch union — N loaders
    * paid N full window passes over the chunk ledger plus N over the
    * progress ledger plus N sorts (the loader filter cannot push below
    * the chunk_id-keyed dedup window), for a report the reference
    * defines set-wise. Row set is identical: each old branch only ever
    * matched its own loader's progress rows (`raw_table_name =
    * 'raw_' || loader`), and the old per-branch limit was
    * `Int.MaxValue` — a no-op. */
  def check(
      spark: SparkSession, chunkLedger: LedgerStore, progressLedger: LedgerStore,
      loaders: Seq[String]): Map[String, DataFrame] = {
    val ledger = chunkLedger.read(spark, Schemas.loadStateChunks)
    val progress = progressLedger.read(spark, Schemas.transformerProgress)
    val states = Ledger.chunkStates(ledger)
    val failed = states
      .filter(col("status") === "failed")
      .orderBy("loader_name", "start_slot")
    val untransformed =
      if (loaders.isEmpty) failed.limit(0)
      else {
        val done = Ledger.progressStates(progress)
          .filter(col("status") === "completed")
          .select(col("raw_table_name").as("__rt"),
            col("start_slot").as("__ss"), col("end_slot").as("__es"))
        states
          .filter(col("status") === "completed" &&
            col("loader_name").isin(loaders.distinct: _*))
          .join(done,
            col("__rt") === concat(lit("raw_"), col("loader_name")) &&
              col("__ss") === col("start_slot") &&
              col("__es") === col("end_slot"),
            "left_anti")
          .orderBy("loader_name", "start_slot")
      }
    Map("failed_chunks" -> failed, "untransformed_chunks" -> untransformed)
  }

  /** Delete a slot range from a month-partitioned parquet table by
    * rewriting ONLY the affected month partitions. */
  def deleteSlotRange(
      spark: SparkSession, tableDir: String, cfg: ChainConfig,
      startSlot: Long, endSlot: Long): Unit = {
    // a chunk can fail before its first raw write, or the dir may hold
    // only _SUCCESS (all-empty-slot chunk): nothing to delete either way
    if (!graft.core.Fs.hasParquetFiles(spark, tableDir)) return
    val months = monthsOf(cfg, startSlot, endSlot)
    val df = Tables.open(spark, tableDir)
    val kept = df
      .filter(col("month").isin(months: _*))
      .filter(!col("slot").between(startSlot, endSlot))
    graft.core.Sessions.withConf(spark, "spark.sql.sources.partitionOverwriteMode" -> "dynamic") {
      // Dynamic overwrite only rewrites partitions PRESENT in `kept`: a
      // month whose every row fell in the deleted range would otherwise
      // silently keep its stale files. Write the surviving months first
      // (the scan still sees all source files), THEN clear emptied months.
      kept.persist() // one scan feeds both the month probe and the rewrite
      try {
        val keptMonths = kept.select("month").distinct().collect().map(_.getString(0)).toSet
        if (keptMonths.nonEmpty) {
          kept.write.mode(SaveMode.Overwrite).partitionBy("month").parquet(tableDir)
        }
        months.filterNot(keptMonths).foreach { m =>
          graft.core.Fs.deleteDir(spark, s"$tableDir/month=$m")
        }
      } finally kept.unpersist()
    }
  }

  def monthsOf(cfg: ChainConfig, startSlot: Long, endSlot: Long): Seq[String] = {
    val fmt = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM")
    def monthAt(slot: Long) = java.time.Instant
      .ofEpochSecond(cfg.genesisTimeUnix + slot * cfg.secondsPerSlot)
      .atZone(java.time.ZoneOffset.UTC).toLocalDate.withDayOfMonth(1)
    val s = monthAt(startSlot)
    val e = monthAt(endSlot)
    Iterator.iterate(s)(_.plusMonths(1)).takeWhile(!_.isAfter(e))
      .map(_.format(fmt)).toSeq
  }

  /** D5: fix failed chunks — delete the raw slot window, reset the ledger
    * rows to pending (versioned append, never UPDATE), ready for refetch +
    * retransform (reference: maintenance.py:77-358). */
  def fixChunks(
      spark: SparkSession, cfg: ChainConfig, rawDir: String,
      chunkLedger: LedgerStore, chunks: DataFrame,
      version: Long = System.currentTimeMillis()): Int = {
    val rows = chunks.select("chunk_id", "start_slot", "end_slot", "loader_name", "created_at").collect()
    // merge adjacent/overlapping chunk ranges first: 100 failed chunks in
    // one month must not rewrite that month partition 100 times
    graft.core.Ranges.merge(rows.map(r => (r.getLong(1), r.getLong(2))).toSeq)
      .foreach { case (s, e) => deleteSlotRange(spark, rawDir, cfg, s, e) }
    if (rows.nonEmpty)
      chunkLedger.append(Ledger.transition(chunks, "pending", "maintenance", version))
    rows.length
  }

  /** D5 complete: the reference's one-command repair loop
    * (reference: src/services/maintenance.py:77-138 — cleanup → reset →
    * reload → retransform, and maintenance.py:240-258 deletes from the
    * TRANSFORMED tables as well as the raw one). Per loader:
    *
    *  1. identify target chunks — failed, or ALL with `force` — scoped to
    *     `[startSlot, endSlot]` by range overlap;
    *  2. delete the merged slot windows from the raw table AND every
    *     structured table the loader owns (partition-scoped rewrites);
    *  3. reset the ledger rows to pending (versioned append);
    *  4. re-ingest the chunk grid fused (per-chunk fallback), honoring the
    *     loader's fetch gates and mega-payload split;
    *  5. re-transform the same grid fused (per-chunk fallback), so
    *     progress stays chunk-grained and latest() readers switch over
    *     atomically per key.
    *
    * Returns chunks repaired per loader. */
  def fixAndRepair(
      spark: SparkSession, cfg: ChainConfig, base: String,
      chunkLedger: LedgerStore, progressLedger: LedgerStore,
      loaders: Seq[LoaderDef], fetcherFor: LoaderDef => SlotFetcher,
      startSlot: Long = 0L, endSlot: Long = Long.MaxValue,
      force: Boolean = false, parallelism: Int = 4): Map[String, Int] = {
    val states = Ledger.chunkStates(chunkLedger.read(spark, Schemas.loadStateChunks))
    loaders.map { loader =>
      val targets = states
        .filter(col("loader_name") === loader.name)
        .filter(if (force) lit(true) else col("status") === "failed")
        .filter(col("start_slot") <= endSlot && col("end_slot") >= startSlot)
      val rows = targets.select("start_slot", "end_slot").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
      if (rows.isEmpty) loader.name -> 0
      else {
        val rawDir = s"$base/${loader.rawTable}"
        val version = System.currentTimeMillis()
        // merge adjacent ranges first: 100 failed chunks in one month must
        // not rewrite that month partition 100 times — and delete the
        // STRUCTURED windows too (stale rows are masked by latest() until
        // the retransform lands, but the reference removes them outright)
        graft.core.Ranges.merge(rows).foreach { case (s, e) =>
          deleteSlotRange(spark, rawDir, cfg, s, e)
          loader.tables.foreach { t =>
            deleteSlotRange(spark, s"$base/tables/$t", cfg, s, e)
          }
        }
        chunkLedger.append(Ledger.transition(targets, "pending", "maintenance", version))
        val fetcher = fetcherFor(loader)
        val gate = Some(RawIngest.slotGate(cfg, loader.activationFork, loader.dailyOnly))
        // only chunks that actually RELOADED are retransformed: a chunk
        // whose refetch still fails must stay `failed` in the ledger —
        // retransforming its (now deleted) window would write a
        // completed-with-0-rows progress row that masks the data loss
        val loadedRanges: Seq[(Long, Long)] =
          if (RawIngest.ingestChunksFused(
              spark, cfg, fetcher, rawDir, chunkLedger, loader.name, rows,
              parallelism, split = loader.splitPayload, gate = gate)) rows
          else rows.filter { case (s, e) =>
            RawIngest.ingestChunk(spark, cfg, fetcher, rawDir, chunkLedger,
              loader.name, s, e, parallelism, split = loader.splitPayload, gate = gate)
          }
        // repaired = reloaded AND retransformed; the structured windows
        // were deleted in step 2, so a range whose transform failed has a
        // hole in the output tables and must NOT be reported repaired
        val repairedRanges: Seq[(Long, Long)] =
          if (loadedRanges.isEmpty) Seq.empty
          else if (Transformer.transformChunksFused(
            spark, cfg, loader, rawDir, s"$base/tables", progressLedger, loadedRanges))
            loadedRanges
          else loadedRanges.filter { case (s, e) =>
            Transformer.transformChunk(
              spark, cfg, loader, rawDir, s"$base/tables", progressLedger, s, e)
          }
        if (repairedRanges.length < rows.length)
          graft.core.Observability.reportError(s"fixAndRepair(${loader.name})",
            new IllegalStateException(
              s"${rows.length - repairedRanges.length} of ${rows.length} chunks " +
                "not fully repaired (reload or retransform failed) — " +
                "their windows were deleted; re-run fix once the cause is fixed"))
        loader.name -> repairedRanges.length
      }
    }.toMap
  }

  /** D7: flip chunk status via versioned insert
    * (reference: maintenance.py:669-715). */
  def resetChunks(
      chunkLedger: LedgerStore, chunks: DataFrame, toStatus: String = "pending",
      version: Long = System.currentTimeMillis()): Unit =
    chunkLedger.append(Ledger.transition(chunks, toStatus, "maintenance", version))

  /** R6: stale-claim recovery — claimed/processing older than `maxAgeMin`
    * flipped back to pending (reference: transformer.py:104-129). */
  def resetStaleClaims(
      spark: SparkSession, chunkLedger: LedgerStore, maxAgeMin: Int = 30,
      version: Long = System.currentTimeMillis()): Long = {
    val ledger = chunkLedger.read(spark, Schemas.loadStateChunks)
    // one SNAPSHOT serves both the count and the append: two separate
    // evaluations would re-run current_timestamp() and re-scan a ledger
    // that may have grown in between, so the returned count could
    // disagree with the rows actually transitioned
    // localCheckpoint, not persist: cached blocks are EVICTABLE, and a
    // recomputation during the append would re-run current_timestamp()
    // with the later job's clock — the checkpoint pins one snapshot
    val stale = Ledger.chunkStates(ledger)
      .filter(col("status").isin("claimed", "processing") &&
        col("updated_at") < current_timestamp() - expr(s"INTERVAL $maxAgeMin MINUTES"))
      .localCheckpoint(true)
    val n = stale.count()
    if (n > 0) chunkLedger.append(Ledger.transition(stale, "pending", "maintenance", version))
    n
  }
}
