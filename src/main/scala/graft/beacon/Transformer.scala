package graft.beacon

import graft.core.Tables
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, IntegerType, StringType, StructField, StructType}
import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}

import java.sql.Timestamp

/** The transform pipeline (SURVEY §3.2): raw parquet → latest-per-slot
  * dedup → parse → multi-table month-partitioned writes → progress ledger.
  *
  * Differences from the reference's chunk-at-a-time Python loop, by
  * design: chunks become *partitions of one job* (Spark's scheduler
  * replaces the worker pool), the fork-group-then-parse step (D3)
  * disappears into the maximal-schema single parse, and the 1→13 table
  * fan-out is one shredded frame written by one job.
  */
object Transformer {

  /** Loaders and the structured tables they own (F8 allowed-tables
    * filter; reference: src/services/transformer.py:41-69,458-474). */
  val blockTables: Set[String] = Set(
    "blocks", "attestations", "deposits", "voluntary_exits",
    "proposer_slashings", "attester_slashings", "sync_aggregates",
    "execution_payloads", "transactions", "withdrawals", "bls_changes",
    "blob_commitments", "execution_requests")

  /** The raw table [[RawIngest.writeRaw]] writes, read with its declared
    * schema so no job runs to infer one: [[Schemas.rawTable]], the part
    * columns of a `split` loader's table, and the `month` partition. */
  def readRaw(spark: SparkSession, rawDir: String, split: Boolean = false): DataFrame =
    spark.read.schema(StructType(Schemas.rawTable.fields ++
      (if (split) Seq(StructField("part_index", IntegerType), StructField("part_count", IntegerType))
       else Nil) :+ StructField("month", StringType)))
      .parquet(rawDir)

  private def rawCols(raw: DataFrame): Seq[String] =
    Seq("slot", "payload", "payload_hash", "retrieved_at") ++
      (if (raw.columns.contains("part_index")) Seq("part_index", "part_count") else Nil)

  /** Latest-RETRIEVAL-per-slot dedup, split-safe: all parts of one fetch
    * share (retrieved_at, payload_hash), so `dense_rank` over that pair
    * keeps every part of the winning retrieval and none of any older one.
    * A per-(slot, part) latest would mix snapshots (a re-fetch that split
    * into fewer parts would keep the new parts PLUS the old retrieval's
    * orphaned tail parts); a per-slot latest would keep one arbitrary
    * part and drop the rest of the snapshot. */
  private[beacon] def latestRetrieval(raw: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("slot")
      .orderBy(col("retrieved_at").desc, col("payload_hash").desc)
    if (!raw.columns.contains("part_index"))
      raw.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
    else
      raw.withColumn("__rk", dense_rank().over(w))
        .filter(col("__rk") === 1)
        .drop("__rk")
        // cross-batch exact-duplicate parts (same retrieval appended
        // twice) collapse to one row per part
        .dropDuplicates("slot", "part_index")
  }

  /** F1 + F2/F3: slot-range scan (partition-pruned + row-group-pruned)
    * then latest-retrieval-per-slot window dedup
    * (reference: transformer.py:342-374). */
  def chunkData(raw: DataFrame, startSlot: Long, endSlot: Long): DataFrame =
    latestRetrieval(
      raw.filter(col("slot").between(startSlot, endSlot))
        .select(rawCols(raw).map(col): _*))

  /** Paths whose on-disk schema was already checked against the writer's —
    * the probe (one footer read) runs once per table directory per JVM;
    * our own subsequent appends are consistent by construction. A FAILED
    * write drops its entry (the directory may now hold partial files or
    * have been swapped out-of-band — re-probe before the retry), and
    * [[invalidateSchemaProbes]] exposes the reset to reprocess flows run
    * against a directory another process may have rewritten. */
  private val schemaProbed = scala.collection.concurrent.TrieMap.empty[String, Boolean]

  /** Forget cached schema probes — all of them, or those under `prefix`.
    * Call when a table directory may have been rewritten OUT-OF-BAND
    * (e.g. `transform reprocess` from another process) while this driver
    * lives; the next append then re-checks the on-disk schema. */
  def invalidateSchemaProbes(prefix: String = ""): Unit =
    schemaProbed.keys.filter(_.startsWith(prefix)).foreach(schemaProbed.remove)

  /** Appending a widened column type (e.g. a count migrating int→long)
    * next to old files of the narrower type silently corrupts the table:
    * spark.read.parquet infers from a sampled file and fails (or
    * mis-reads) on the rest. Fail FAST with the repair instruction
    * instead — mixed-type directories are unrecoverable without a rewrite
    * anyway. Compares by field name on the overlap; added/dropped columns
    * are fine (parquet unions schemas of nullable fields). */
  private def requireCompatibleSchema(
      spark: SparkSession, schema: StructType, dir: String, table: String): Unit =
    schemaProbed.getOrElseUpdate(dir, {
      if (graft.core.Fs.hasParquetFiles(spark, dir)) {
        val existing = Tables.open(spark, dir).schema
          .map(f => f.name -> f.dataType).toMap
        val drift = schema
          .flatMap { f =>
            existing.get(f.name).filter(_ != f.dataType)
              .map(old => s"${f.name}: on-disk $old vs writer ${f.dataType}")
          }
        if (drift.nonEmpty) throw new IllegalStateException(
          s"schema drift on $table at $dir — appending would mix parquet " +
            s"types in one directory (${drift.mkString("; ")}); reprocess " +
            "the table (`transform reprocess`) to rewrite it under the new schema")
      }
      true
    })

  /** Appends the loader's tables from `shredded` (see [[LoaderDef.shred]])
    * in ONE write job and returns the rows written and the rows per range
    * of `ranges` (sorted by start), summed over the tables, both counted
    * by the write's tasks. Each table's schema is checked against its
    * directory first, on the driver. The write commits every table or
    * none: a failure leaves no file of any table visible, and its rows are
    * not added to `rows_written`. */
  private def writeTables(
      spark: SparkSession, shredded: DataFrame, loader: LoaderDef, outDir: String,
      ranges: IndexedSeq[(Long, Long)]): (Long, Array[Long]) = {
    val tables = loader.tables.toSeq.sorted // F8
    val input = shredded.select((Seq("slot", "month") ++ tables).map(col): _*)
    tables.foreach { t =>
      val rowSchema = input.schema(t).dataType.asInstanceOf[ArrayType].elementType
      requireCompatibleSchema(spark, rowSchema.asInstanceOf[StructType], s"$outDir/$t", t)
    }
    val write = new graft.core.ShredWrite(spark, outDir, Loaders.maxRecordsPerFile, ranges)
    try org.apache.spark.sql.graft.Bridge.appendV2(input.sortWithinPartitions("slot"), write)
    catch {
      case e: Throwable =>
        // the dirs' state is no longer what the probes saw (the failure
        // may itself be an out-of-band rewrite racing us) — drop the
        // cached probes so the retry re-checks the disk
        tables.foreach(t => schemaProbed.remove(s"$outDir/$t"))
        throw e
    }
    val result = write.result
    graft.core.Metrics.of(spark).rowsWritten.add(result.rows)
    (result.rows, result.rangeRows)
  }

  /** Generic chunk transform for any registered loader: read its raw
    * table, dedup, parse via the loader's parser, write every owned
    * table, record progress. */
  def transformChunk(
      spark: SparkSession, cfg: ChainConfig, loader: LoaderDef,
      rawDir: String, outDir: String, progress: LedgerStore,
      startSlot: Long, endSlot: Long,
      version: Long = System.currentTimeMillis()): Boolean = {
    // a raw dir that EXISTS but holds only _SUCCESS (every slot so far
    // was 404-empty) has no inferable schema; that is SUCCESS with zero
    // rows (reference: empty slots are success-with-no-row, base.py:51-58).
    // A MISSING dir is a real failure — treating it as empty would let
    // e.g. a reprocess of an archived raw table delete output data and
    // report ok — so it falls through to the failing read below.
    if (graft.core.Fs.exists(spark, rawDir) &&
        !graft.core.Fs.hasParquetFiles(spark, rawDir)) {
      progress.append(progressRow(spark, loader.rawTable, startSlot, endSlot,
        "completed", 0L, 0L, None, version))
      return true
    }
    // chunk_duration_seconds{loader/transform} (reference observability.py:64-69)
    val t0 = System.nanoTime()
    try {
      val chunk = chunkData(readRaw(spark, rawDir, loader.splitPayload), startSlot, endSlot)
      val (total, _) = writeTables(spark, loader.shred(chunk, cfg, version), loader, outDir,
        Vector((startSlot, endSlot)))
      progress.append(progressRow(spark, loader.rawTable, startSlot, endSlot,
        "completed", total, 0L, None, version))
      graft.core.Metrics.histogram(
        spark, "chunk_duration_seconds", s"${loader.name}/transform",
        graft.core.Metrics.chunkDurationBucketsMillis)
        .add((System.nanoTime() - t0) / 1000000L)
      true
    } catch {
      case scala.util.control.NonFatal(e) =>
        // failed chunks observe their duration too (p99 must see them)
        graft.core.Metrics.histogram(
          spark, "chunk_duration_seconds", s"${loader.name}/transform",
          graft.core.Metrics.chunkDurationBucketsMillis)
          .add((System.nanoTime() - t0) / 1000000L)
        progress.append(progressRow(spark, loader.rawTable, startSlot, endSlot,
          "failed", 0L, 1L, Some(String.valueOf(e.getMessage)), version))
        false
    }
  }

  private def progressRow(
      spark: SparkSession, rawTable: String, startSlot: Long, endSlot: Long,
      status: String, processed: Long, failed: Long, error: Option[String],
      version: Long): DataFrame = {
    val row = Row(rawTable, startSlot, endSlot, status, processed, failed,
      error.orNull, new Timestamp(System.currentTimeMillis()), version)
    spark.createDataFrame(
      java.util.Arrays.asList(row), Schemas.transformerProgress)
  }

  /** Bulk form of [[progressRow]]: one row per range with per-range
    * processed counts (the single shape both fused paths append). */
  private def progressRows(
      spark: SparkSession, rawTable: String, ranges: Seq[(Long, Long)],
      status: String, counts: Map[(Long, Long), Long], version: Long): DataFrame = {
    val now = new Timestamp(System.currentTimeMillis())
    val rows = ranges.map { case (s, e) =>
      Row(rawTable, s, e, status, counts.getOrElse((s, e), 0L), 0L, null, now, version)
    }
    spark.createDataFrame(
      java.util.Arrays.asList(rows: _*), Schemas.transformerProgress)
  }

  /** Blocks convenience wrapper over [[transformChunk]] (kept for the
    * common case; `allowedTables` intersects the loader's table set — F8). */
  def transformBlocksChunk(
      spark: SparkSession, cfg: ChainConfig, rawDir: String, outDir: String,
      progress: LedgerStore, startSlot: Long, endSlot: Long,
      allowedTables: Option[Set[String]] = None,
      version: Long = System.currentTimeMillis()): Boolean = {
    val loader = allowedTables match {
      case Some(allow) => Loaders.blocks.copy(tables = Loaders.blocks.tables.intersect(allow))
      case None => Loaders.blocks
    }
    transformChunk(spark, cfg, loader, rawDir, outDir, progress,
      startSlot, endSlot, version)
  }

  /** Exact range-membership filter as a broadcast LEFT SEMI join — the
    * scalable interval-join shape. Each range of width ≤ W (the widest
    * range) covers at most two W-buckets, so the broadcast side stays
    * ≤ 2·|ranges| rows and the probe is an equi-join on `slot div W` plus a
    * residual BETWEEN: no nested-loop range join, no per-row CASE chain
    * over thousands of ranges. A slot that falls in several ranges (mixed
    * chunk grids in the ledger — streaming exact runs vs planned chunks
    * after a chunk-size change) passes ONCE instead of once per range. */
  def filterToRanges(df: DataFrame, ranges: Seq[(Long, Long)]): DataFrame = {
    require(ranges.nonEmpty, "filterToRanges needs at least one range")
    val w = math.max(1L, ranges.map { case (s, e) => e - s + 1 }.max)
    val spark = df.sparkSession
    import spark.implicits._
    val buckets = ranges.flatMap { case (s, e) =>
      (s / w).to(e / w).map(b => (b, s, e))
    }.toDF("__bucket", "__fs", "__fe")
    val probed = df.withColumn("__bucket", expr(s"slot div $w"))
    probed.join(broadcast(buckets),
      probed("__bucket") === buckets("__bucket") &&
        probed("slot").between(buckets("__fs"), buckets("__fe")),
      "left_semi")
      .drop("__bucket")
  }

  /** D2/D4 at scale: transform ALL pending ranges as ONE write job for
    * every output table instead of one driver-loop iteration per chunk.
    * The union of ranges is scanned once (partition/row-group pruned by
    * the global slot bounds), deduped latest-per-slot once, parsed once and
    * shredded into all tables by the same tasks that write them. The
    * write also counts its rows per range, so the per-chunk progress rows
    * (one progress write for all ranges) need no second pass.
    *
    * All-or-nothing: any failure rolls up to `false` — with no file of any
    * table published — and the caller falls back to per-chunk
    * [[transformChunk]] for failure isolation (the reference's
    * chunk-at-a-time loop, loader.py:463-485, becomes the EXCEPTION path
    * instead of the steady-state).
    */
  def transformChunksFused(
      spark: SparkSession, cfg: ChainConfig, loader: LoaderDef,
      rawDir: String, outDir: String, progress: LedgerStore,
      ranges: Seq[(Long, Long)],
      version: Long = System.currentTimeMillis()): Boolean = {
    if (ranges.isEmpty) return true
    // inverted ranges are ledger corruption → refuse (per-chunk fallback
    // surfaces the bad row); OVERLAPPING ranges are merely a mixed chunk
    // grid — the semi-join membership below parses each slot once, so the
    // fused path handles them correctly. Surface the mix in /health
    // anyway: overlapping grids mean per-chunk counts double-count the
    // shared slots (each owning range reports them), worth an operator's
    // attention even though the output tables stay duplicate-free.
    val sorted = ranges.sorted.toVector
    if (sorted.exists { case (s, e) => s > e }) {
      graft.core.Observability.reportError(s"transformChunksFused(${loader.name})",
        new IllegalArgumentException(s"inverted chunk ranges: ${sorted.take(5)}…"))
      return false
    }
    if (sorted.zip(sorted.tail).exists { case ((_, e1), (s2, _)) => s2 <= e1 })
      graft.core.Observability.reportWarning(s"transformChunksFused(${loader.name})",
        s"overlapping chunk ranges (mixed grid): ${sorted.take(5)}… — " +
          "output stays duplicate-free; per-chunk counts double-count the overlap")
    if (!graft.core.Fs.exists(spark, rawDir)) return false // missing ≠ empty
    if (!graft.core.Fs.hasParquetFiles(spark, rawDir)) {
      // all-empty raw table: every range completes with zero rows
      progress.append(progressRows(spark, loader.rawTable, ranges,
        "completed", Map.empty, version))
      return true
    }
    try {
      val globalMin = ranges.map(_._1).min
      val globalMax = ranges.map(_._2).max
      val rawAll = readRaw(spark, rawDir, loader.splitPayload)
      val raw = rawAll
        .filter(col("slot").between(globalMin, globalMax))
        .select(rawCols(rawAll).map(col): _*)
      // exact membership (semi-join: overlap-safe, no tag columns riding
      // through the parse), then latest-retrieval dedup — the global
      // latest-per-slot window equals the per-chunk windows for any grid
      val tagged = latestRetrieval(filterToRanges(raw, ranges))
      val (_, perRange) = writeTables(spark, loader.shred(tagged, cfg, version), loader,
        outDir, sorted)
      progress.append(progressRows(spark, loader.rawTable, ranges,
        "completed", sorted.zip(perRange).toMap, version))
      true
    } catch {
      case scala.util.control.NonFatal(e) =>
        // never silent: the per-chunk fallback re-runs the work, but the
        // first fused failure must be diagnosable without the re-run
        graft.core.Observability.reportError(s"transformChunksFused(${loader.name})", e)
        false
    }
  }

  /** D4 batch loop: discover untransformed chunks (J1) in rounds of
    * `chunksPerFetch` until the backlog drains. The steady-state path is
    * [[transformChunksFused]] — one parse and one write job for every
    * output table over the whole round (its tasks also count the
    * per-chunk rows), not one job cascade per chunk; a fused-round failure
    * falls back to per-chunk [[transformChunk]] so one poisoned chunk
    * fails alone. Chunks whose transform FAILS stay "untransformed"
    * (progress row != completed), so each range is attempted at most once
    * per invocation to guarantee termination (the reference's batch mode
    * exits on empty rounds; failed chunks go to `maintain fix`). Returns
    * chunks processed. */
  def runBatch(
      spark: SparkSession, cfg: ChainConfig, rawDir: String, outDir: String,
      chunkLedger: LedgerStore, progressLedger: LedgerStore,
      loader: LoaderDef = Loaders.blocks, chunksPerFetch: Int = 50,
      fused: Boolean = true): Int = {
    val attempted = scala.collection.mutable.Set.empty[(Long, Long)]
    var processed = 0
    var draining = true
    while (draining) {
      val ledger = chunkLedger.read(spark, Schemas.loadStateChunks)
      val progress = progressLedger.read(spark, Schemas.transformerProgress)
      val todo = Ledger
        .untransformedChunks(ledger, progress, loader.name, chunksPerFetch)
        .select("start_slot", "end_slot")
        .collect()
        .map(r => (r.getLong(0), r.getLong(1)))
        .filterNot(attempted)
        .toSeq
      if (todo.isEmpty) draining = false
      else {
        attempted ++= todo
        val fusedOk = fused && todo.length > 1 &&
          transformChunksFused(spark, cfg, loader, rawDir, outDir, progressLedger, todo)
        if (fusedOk) processed += todo.length
        else todo.foreach { case (a, b) =>
          transformChunk(spark, cfg, loader, rawDir, outDir, progressLedger, a, b)
          processed += 1
        }
      }
    }
    processed
  }

  /** `transform reprocess` — delete-and-rebuild of a slot range
    * (reference CLI surface: src/cli.py:47-53; the reference's
    * `transformer.py:610-618` body is an acknowledged stub, so the
    * semantics here are the engine's own, composed from D5 + the fused
    * D4): partition-scoped delete of [startSlot, endSlot] from every
    * table the loader owns, then a fused re-transform of the range as
    * chunk-aligned sub-ranges with a fresh insert_version (latest()
    * readers switch over atomically per key). Raw data is NOT refetched —
    * that is `maintain fix`'s job. */
  def reprocess(
      spark: SparkSession, cfg: ChainConfig, loader: LoaderDef,
      rawDir: String, outDir: String, progress: LedgerStore,
      startSlot: Long, endSlot: Long, chunkSize: Long = 100L): Boolean = {
    // pre-flight BEFORE deleting: a missing raw dir (archived, wrong
    // --base) means the re-transform below can only fail, and the already-
    // transformed output rows would be permanently deleted for nothing
    if (!graft.core.Fs.exists(spark, rawDir)) {
      graft.core.Observability.reportError(s"reprocess(${loader.name})",
        new java.io.FileNotFoundException(
          s"raw dir $rawDir missing — aborting before deleting output tables"))
      return false
    }
    loader.tables.foreach { t =>
      Maintenance.deleteSlotRange(spark, s"$outDir/$t", cfg, startSlot, endSlot)
      // the rebuild may be the schema-migration write the drift probe
      // exists for — re-check the (now partially deleted) directory
      invalidateSchemaProbes(s"$outDir/$t")
    }
    val ranges = startSlot.to(endSlot, chunkSize)
      .map(s => (s, math.min(s + chunkSize - 1, endSlot)))
    transformChunksFused(spark, cfg, loader, rawDir, outDir, progress, ranges) || {
      // attempt EVERY chunk (no short-circuit): the range was already
      // deleted above, so an unattempted sub-range would simply vanish
      // from the output tables
      ranges.map { case (a, b) =>
        transformChunk(spark, cfg, loader, rawDir, outDir, progress, a, b)
      }.forall(identity)
    }
  }

  /** Continuous transform (reference `transform run --continuous`,
    * transformer.py:131-233: poll every `pollMillis`, drain the backlog
    * each round). `maxRounds` bounds the loop for tests; pass
    * Int.MaxValue in production. Returns total chunks processed. */
  def runContinuous(
      spark: SparkSession, cfg: ChainConfig, rawDir: String, outDir: String,
      chunkLedger: LedgerStore, progressLedger: LedgerStore,
      loader: LoaderDef = Loaders.blocks, chunksPerFetch: Int = 50,
      pollMillis: Long = 10000L, maxRounds: Int = Int.MaxValue): Int = {
    var total = 0
    var round = 0
    while (round < maxRounds) {
      total += runBatch(spark, cfg, rawDir, outDir, chunkLedger, progressLedger,
        loader, chunksPerFetch)
      round += 1
      if (round < maxRounds) Thread.sleep(pollMillis)
    }
    total
  }

  /** Bucketed write for co-located slot joins: both sides of a
    * blocks ⋈ withdrawals / rewards / attestations join written with the
    * same bucketing never shuffle — the join is planned bucket-to-bucket
    * (SortMergeJoin with zero Exchange). This is the 100 TB path for the
    * recurring slot-equi-join analytics (SURVEY §2.5 J4/J5); requires a
    * catalog table (saveAsTable), so it complements — not replaces — the
    * plain month-partitioned layout. */
  def writeBucketedTable(
      df: DataFrame, tableName: String, bucketCols: Seq[String],
      numBuckets: Int = 64): Unit =
    df.write
      .mode(SaveMode.Overwrite)
      .bucketBy(numBuckets, bucketCols.head, bucketCols.tail: _*)
      .sortBy(bucketCols.head, bucketCols.tail: _*)
      .format("parquet")
      .saveAsTable(tableName)

  /** Read-side FINAL view of a structured table (dedup by its natural key
    * at max insert_version) — the engine-wide `latest(table)` surface. */
  def latestTable(spark: SparkSession, outDir: String, table: String,
      keys: Seq[String]): DataFrame =
    Ledger.latest(Tables.open(spark, s"$outDir/$table"), keys, "insert_version")

  /** Maximal declared schema of a structured table, derived from the
    * parser lineage itself: plan the table's parser over an EMPTY raw
    * frame and read the analyzed schema (no job runs). Forks only ever
    * ADD columns (the maximal-schema design, README), so today's parser
    * output is the superset of every file era on disk. */
  def declaredSchema(spark: SparkSession, table: String,
      cfg: ChainConfig = ChainConfig.gnosis): org.apache.spark.sql.types.StructType = {
    val ld = Loaders.all.find(_.tables.contains(table)).getOrElse(
      throw new IllegalArgumentException(s"no loader owns table '$table'"))
    val emptyRaw = spark.createDataFrame(
      spark.sparkContext.emptyRDD[Row], Schemas.rawTable)
    ld.shred(emptyRaw, cfg, 0L).schema(table).dataType.asInstanceOf[ArrayType]
      .elementType.asInstanceOf[StructType]
  }

  /** Schema-drift-tolerant structured read — the 100 TB contract for a
    * directory written across fork eras (older files predate columns a
    * later fork added). `Tables.open(spark, dir)` picks ONE footer to
    * infer from, so whether a late-added column exists depends on which
    * file is sampled; `mergeSchema=true` fixes that by reading EVERY
    * footer — a full-directory metadata pass that gets expensive at
    * 100 TB file counts. Reading with the DECLARED schema does neither:
    * zero extra footer reads, stable column set, files that lack a
    * column yield NULL for it (parquet reader contract), and pruning /
    * pushdown behave exactly as a plain read. */
  def readDeclared(spark: SparkSession, outDir: String, table: String,
      cfg: ChainConfig = ChainConfig.gnosis): DataFrame =
    spark.read.schema(declaredSchema(spark, table, cfg))
      .parquet(s"$outDir/$table")

  /** [[latestTable]] over the declared-schema read — FINAL view that is
    * stable across fork-era file mixes. */
  def latestTableDeclared(spark: SparkSession, outDir: String, table: String,
      keys: Seq[String], cfg: ChainConfig = ChainConfig.gnosis): DataFrame =
    Ledger.latest(readDeclared(spark, outDir, table, cfg), keys, "insert_version")

  /** Natural ORDER BY keys per structured table (from migrations §1). */
  val tableKeys: Map[String, Seq[String]] = Map(
    "blocks" -> Seq("slot"),
    "attestations" -> Seq("slot", "attestation_index", "committee_index"),
    "deposits" -> Seq("slot", "deposit_index", "pubkey"),
    "voluntary_exits" -> Seq("slot", "validator_index"),
    "proposer_slashings" -> Seq("slot", "slashing_index", "header_1_proposer_index"),
    "attester_slashings" -> Seq("slot", "slashing_index", "att_1_committee_index"),
    "sync_aggregates" -> Seq("slot"),
    "execution_payloads" -> Seq("slot", "block_number"),
    "transactions" -> Seq("slot", "transaction_index", "transaction_hash"),
    "withdrawals" -> Seq("slot", "withdrawal_index", "validator_index"),
    "bls_changes" -> Seq("slot", "change_index", "validator_index"),
    "blob_commitments" -> Seq("slot", "commitment_index"),
    "blob_sidecars" -> Seq("slot", "blob_index"),
    "execution_requests" -> Seq("slot"),
    "validators" -> Seq("slot", "validator_index"),
    "rewards" -> Seq("slot", "proposer_index"),
    "pending_consolidations" -> Seq("slot", "source_index", "target_index"),
    "pending_deposits" -> Seq("slot", "pubkey", "deposit_slot"),
    "pending_partial_withdrawals" -> Seq("slot", "validator_index", "withdrawable_epoch"),
    "data_column_sidecars" -> Seq("slot", "column_index"))
}
