package graft.beacon

import graft.core.Tables
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}

/** `maintain compact` — the ReplacingMergeTree background-merge analogue.
  *
  * Every reference table is `ENGINE = ReplacingMergeTree(insert_version)`
  * (reference: migrations/005_fork_phase0.sql:30-33) and ClickHouse
  * continuously rewrites parts in the background, collapsing duplicate
  * versions and merging small parts; `FINAL` reads rely on it staying
  * bounded (reference: src/services/transformer.py:349-353). Append-only
  * parquet reproduces the READ semantics via the latest() window dedup
  * (F2/F3) but not the STORAGE effect: per-chunk appends — daily
  * single-slot validator chunks and long-lived realtime tails above all —
  * accumulate small files and dead superseded versions forever. At 100 TB
  * that is read amplification on every scan plus a growing window-dedup
  * tax. Compaction rewrites month partitions: collapse to the same
  * latest-per-key the FINAL views compute, re-sort by slot (restores
  * row-group min/max pruning on the dominant predicate), re-size output
  * files (K3 `maxRecordsPerFile`), and swap each partition atomically.
  *
  * Month-local dedup IS global dedup here: every natural key leads with
  * `slot` (Transformer.tableKeys) and `month` is a pure function of slot,
  * so no key can span two month partitions.
  *
  * Crash safety: the rewrite is staged under `<dir>/.compact-tmp/` and the
  * superseded partition parked at `<dir>/.compact-old/` — both
  * '.'-prefixed, so Spark's file index never reads either. The swap is two
  * same-filesystem renames; an interruption between them leaves the
  * partition parked, and [[recoverInterrupted]] (run automatically at the
  * start of every compact) renames it back. Crash-safe, not
  * reader-isolated: a query that LISTS the table inside the brief window
  * between the two renames misses the month being swapped (or throws
  * FileNotFoundException off a pre-swap cached file index) — readers that
  * need exact results must not race a compact of the months they scan.
  * Like ClickHouse merges, a month being compacted must not receive
  * concurrent APPENDS (rows landing in the live dir after the rewrite's
  * scan would be dropped by the swap) — the `hotMonthFloor` guard
  * (default-on in the CLI, fed by [[frontierMonth]]) keeps compaction
  * strictly behind the ingest frontier, which is where small files
  * accumulate anyway.
  */
object Compaction {

  /** Per-month outcome, recorded to the compaction log (ledger-style). */
  final case class MonthResult(
      table: String, month: String,
      filesBefore: Int, filesAfter: Int,
      rowsBefore: Long, rowsAfter: Long,
      bytesBefore: Long, bytesAfter: Long)

  private def tmpRoot(dir: String) = s"$dir/.compact-tmp"
  private def oldRoot(dir: String) = s"$dir/.compact-old"

  /** yyyy-MM (UTC) of a slot's timestamp — the partition value the writers
    * derive with `date_format(cfg.slotTimestamp(slot), "yyyy-MM")`. */
  def monthOfSlot(cfg: ChainConfig, slot: Long): String =
    java.time.Instant
      .ofEpochSecond(cfg.genesisTimeUnix + slot * cfg.secondsPerSlot)
      .atZone(java.time.ZoneOffset.UTC)
      .format(java.time.format.DateTimeFormatter.ofPattern("yyyy-MM"))

  /** The ingest-frontier month: yyyy-MM of the max `end_slot` over
    * non-failed chunk states in the load ledger — the newest month any
    * loader has written to or is writing to right now (claimed chunks ARE
    * in-flight appends, so they count). Months at or after this value must
    * not be compacted while ingest is live: rows appended after the
    * rewrite's scan would be silently dropped by the swap. None on an
    * empty ledger (cold store — nothing is hot). Note `maintain fix`
    * reloads can append to arbitrary OLD months; do not run fix and
    * compact concurrently (both are operator-invoked). */
  def frontierMonth(
      spark: SparkSession, chunkLedger: LedgerStore, cfg: ChainConfig): Option[String] = {
    val states = Ledger.chunkStates(chunkLedger.read(spark, Schemas.loadStateChunks))
      .filter(col("status").isin("claimed", "completed"))
    val r = states.agg(max("end_slot")).head()
    if (r.isNullAt(0)) None else Some(monthOfSlot(cfg, r.getLong(0)))
  }

  /** Heal an interrupted swap: any partition still parked under
    * `.compact-old/` whose live dir is missing is renamed back; parked
    * dirs whose swap DID complete are dropped, as is any staged tmp
    * output. Returns the months restored. Idempotent; called
    * automatically by [[compactTable]]. */
  def recoverInterrupted(spark: SparkSession, tableDir: String): Seq[String] = {
    graft.core.Fs.deleteDir(spark, tmpRoot(tableDir))
    val restored = graft.core.Fs.listDirNames(spark, oldRoot(tableDir)).flatMap { m =>
      val live = s"$tableDir/$m"
      val parked = s"${oldRoot(tableDir)}/$m"
      if (!graft.core.Fs.exists(spark, live)) {
        require(graft.core.Fs.rename(spark, parked, live),
          s"compact recovery: cannot restore $parked to $live")
        Some(m.stripPrefix("month="))
      } else { // swap completed before the crash; the parked copy is dead
        graft.core.Fs.deleteDir(spark, parked)
        None
      }
    }
    graft.core.Fs.deleteDir(spark, oldRoot(tableDir))
    restored
  }

  /** Compact selected month partitions of one table directory.
    *
    * @param dedup    collapse-to-latest for this table's storage model
    *                 (structured: latest-per-natural-key by insert_version;
    *                 raw: latest retrieval per slot, split-safe)
    * @param months   restrict to these `yyyy-MM` values (empty = all)
    * @param minFiles skip months with fewer data files — a single-file
    *                 month is already merged (dead versions inside one
    *                 file can only come from a single append, which the
    *                 writers never produce for one key)
    * @param hotMonthFloor skip months >= this `yyyy-MM` (typically
    *                 [[frontierMonth]]): they may receive concurrent
    *                 appends, which the swap would silently drop. Applies
    *                 even to explicitly-requested `months` — pass None
    *                 (the CLI's `--force`) to compact a hot month anyway
    * @param maxConcurrentMonths rewrite up to this many months at once
    *                 (driver threads submitting independent Spark jobs).
    *                 ClickHouse merges run concurrently; sequential month
    *                 rewrites leave the cluster idle between a small
    *                 month's stages. Months are independent — every
    *                 staged/parked path is month-scoped — so this only
    *                 overlaps work. 1 (default) = current sequential walk
    */
  def compactTable(
      spark: SparkSession, tableDir: String, table: String,
      dedup: DataFrame => DataFrame, maxRecordsPerFile: Long,
      months: Seq[String] = Nil, minFiles: Int = 2,
      hotMonthFloor: Option[String] = None,
      maxConcurrentMonths: Int = 1): Seq[MonthResult] = {
    recoverInterrupted(spark, tableDir)
    if (!graft.core.Fs.hasParquetFiles(spark, tableDir)) return Nil
    val monthDirs = graft.core.Fs.listDirNames(spark, tableDir)
      .filter(_.startsWith("month="))
    val wanted =
      (if (months.isEmpty) monthDirs
       else monthDirs.filter(d => months.contains(d.stripPrefix("month="))))
        .filter(d => hotMonthFloor.forall(d.stripPrefix("month=") < _))
    def compactMonth(mdir: String): Option[MonthResult] = {
      val live = s"$tableDir/$mdir"
      val (filesBefore, bytesBefore) = graft.core.Fs.dataFileStats(spark, live)
      if (filesBefore < minFiles) None
      else {
        val out = dedup(Tables.open(spark, live))
          // total order by slot across the partition's output files: range
          // exchange + in-partition sort; AQE coalesces the post-shuffle
          // partitions of a small month to one, so tiny months collapse to
          // a single file while a TB-scale month still sorts in parallel
          .orderBy("slot")
        out.write.mode(SaveMode.Overwrite)
          .option("maxRecordsPerFile", maxRecordsPerFile)
          .parquet(s"${tmpRoot(tableDir)}/$mdir")
        // row stats via zero-column scans (row-group counts only, no column
        // IO) — NOT Observation: the range sort's partitioner runs a
        // sampling job over the same plan first, and Observation.get
        // returns whichever job finishes first, yielding garbage counts
        val rowsBefore = Tables.open(spark, live).count()
        val rowsAfter = Tables.open(spark, s"${tmpRoot(tableDir)}/$mdir").count()
        require(graft.core.Fs.rename(spark, live, s"${oldRoot(tableDir)}/$mdir"),
          s"compact: cannot park $live")
        require(graft.core.Fs.rename(spark, s"${tmpRoot(tableDir)}/$mdir", live),
          s"compact: cannot activate rewritten $live — parked original " +
            s"at ${oldRoot(tableDir)}/$mdir; recoverInterrupted restores it")
        graft.core.Fs.deleteDir(spark, s"${oldRoot(tableDir)}/$mdir")
        val (filesAfter, bytesAfter) = graft.core.Fs.dataFileStats(spark, live)
        Some(MonthResult(table, mdir.stripPrefix("month="),
          filesBefore, filesAfter, rowsBefore, rowsAfter,
          bytesBefore, bytesAfter))
      }
    }
    val results =
      if (maxConcurrentMonths <= 1) wanted.sorted.flatMap(compactMonth)
      // independent Spark jobs submitted from a bounded driver pool; a
      // month failure propagates after every other month has finished
      else graft.core.Parallel.all(
        wanted.sorted.map(m => () => compactMonth(m)), maxConcurrentMonths).flatten
    // the roots only ever hold in-flight state; leave nothing behind
    graft.core.Fs.deleteDir(spark, tmpRoot(tableDir))
    graft.core.Fs.deleteDir(spark, oldRoot(tableDir))
    // the month dirs were swapped out from under any cached probe
    Transformer.invalidateSchemaProbes(tableDir)
    results
  }

  /** Compact a structured table under `$base/tables/` using the same
    * keys/version its FINAL view reads with (Transformer.latestTable). */
  def compactStructured(
      spark: SparkSession, base: String, table: String,
      months: Seq[String] = Nil, minFiles: Int = 2,
      hotMonthFloor: Option[String] = None,
      maxConcurrentMonths: Int = 1): Seq[MonthResult] = {
    val keys = Transformer.tableKeys.getOrElse(table,
      sys.error(s"unknown structured table: $table"))
    compactTable(spark, s"$base/tables/$table", table,
      df => Ledger.latest(df, keys, "insert_version"),
      Loaders.maxRecordsPerFile(table), months, minFiles, hotMonthFloor,
      maxConcurrentMonths)
  }

  /** Compact a raw payload table using the transformer's own
    * latest-retrieval-per-slot dedup (split-safe: all parts of the
    * winning fetch survive together). */
  def compactRaw(
      spark: SparkSession, base: String, rawTable: String,
      months: Seq[String] = Nil, minFiles: Int = 2,
      hotMonthFloor: Option[String] = None,
      maxConcurrentMonths: Int = 1): Seq[MonthResult] =
    compactTable(spark, s"$base/$rawTable", rawTable,
      Transformer.latestRetrieval _,
      Loaders.maxRecordsPerFile(rawTable), months, minFiles, hotMonthFloor,
      maxConcurrentMonths)

  /** Frontier-aware auto-compact for one loader's tail — the continuous
    * background-merge analogue (ClickHouse gets this for free, forever, on
    * every ReplacingMergeTree table: reference
    * migrations/005_fork_phase0.sql:30-33; a long-lived graft tail invokes
    * this on a micro-batch cadence instead of waiting for an operator to
    * remember `maintain compact`). Compacts every month STRICTLY behind
    * the ingest frontier whose data-file count has reached `minFiles` —
    * each completed chunk appends at least one file to every month it
    * touches, so `minFiles` is "K appends accumulated behind the
    * frontier". Covers the loader's raw table and, when `structuredDir` is
    * given, every structured table the loader owns. Cost when nothing
    * qualifies: one ledger probe plus a directory listing per table. */
  def autoCompactLoader(
      spark: SparkSession, cfg: ChainConfig, loader: LoaderDef,
      rawDir: String, structuredDir: Option[String],
      chunkLedger: LedgerStore, minFiles: Int = 8,
      log: Option[LedgerStore] = None): Seq[MonthResult] =
    frontierMonth(spark, chunkLedger, cfg) match {
      case None => Nil
      case Some(frontier) =>
        val raw = compactTable(spark, rawDir, loader.rawTable,
          Transformer.latestRetrieval _,
          Loaders.maxRecordsPerFile(loader.rawTable),
          Nil, minFiles, Some(frontier))
        val structured = structuredDir.toSeq.flatMap { outDir =>
          loader.tables.toSeq.sorted.flatMap { t =>
            if (!graft.core.Fs.exists(spark, s"$outDir/$t")) Nil
            else compactTable(spark, s"$outDir/$t", t,
              df => Ledger.latest(df, Transformer.tableKeys(t), "insert_version"),
              Loaders.maxRecordsPerFile(t), Nil, minFiles, Some(frontier))
          }
        }
        val all = raw ++ structured
        log.foreach(record(spark, _, all))
        all
    }

  /** Record results to the compaction log — append-only with
    * `insert_version`, exactly like the chunk/progress ledgers, so
    * `maintain` history is queryable alongside them. */
  def record(
      spark: SparkSession, log: LedgerStore, results: Seq[MonthResult],
      version: Long = System.currentTimeMillis()): Unit = {
    if (results.isEmpty) return
    val rows = results.map(r => Row(
      r.table, r.month,
      r.filesBefore.toLong, r.filesAfter.toLong,
      r.rowsBefore, r.rowsAfter, r.bytesBefore, r.bytesAfter,
      new java.sql.Timestamp(version), version))
    log.append(spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), Schemas.compactionLog))
  }
}
