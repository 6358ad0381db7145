package graft

import graft.beacon._

/** Runnable end-to-end smoke of the beacon pipeline over an offline
  * fetcher: plan chunks → ingest raw (payload-hash dedup + ledger) →
  * transform (13-table fan-out) → flagship query (SURVEY §7.3).
  *
  *   sbt "runMain graft.BeaconSmoke /tmp/graft_smoke"
  */
object BeaconSmoke {
  def main(args: Array[String]): Unit = {
    val base = args.headOption.getOrElse("/tmp/graft_smoke_" + System.nanoTime())
    val spark = graft.core.Sessions.local(8)

    val cfg = ChainConfig.gnosis
    val payload = (slot: Long) =>
      s"""{"version":"phase0","data":{"message":{"slot":"$slot","proposer_index":"${slot % 64}",
         |"parent_root":"0xp","state_root":"0xs","body":{"randao_reveal":"0xr","graffiti":"0x00",
         |"eth1_data":{"deposit_root":"0xd","deposit_count":"1","block_hash":"0xb"},
         |"attestations":[{"aggregation_bits":"0xff","signature":"0xsig",
         |"data":{"slot":"${slot - 1}","index":"0","beacon_block_root":"0xbbr",
         |"source":{"epoch":"1","root":"0xsr"},"target":{"epoch":"2","root":"0xtr"}}}],
         |"deposits":[],"voluntary_exits":[],"proposer_slashings":[],"attester_slashings":[]
         |}},"signature":"0xbs"}}""".stripMargin.replaceAll("\n", "")
    val fetcher = MapSlotFetcher(
      (0L until 200L).collect { case s if s % 7 != 6 => s -> payload(s) }.toMap)

    val rawDir = s"$base/raw_blocks"
    val outDir = s"$base/tables"
    val chunkLedger = LedgerStore(s"$base/load_state_chunks")
    val progressLedger = LedgerStore(s"$base/transformer_progress")

    (0L until 200L by 100L).foreach { start =>
      RawIngest.ingestChunk(spark, cfg, fetcher, rawDir, chunkLedger, "blocks",
        start, start + 99, parallelism = 8)
    }
    val processed = Transformer.runBatch(spark, cfg, rawDir, outDir,
      chunkLedger, progressLedger)
    println(s"[smoke] chunks transformed: $processed")

    val views = BeaconCatalog.registerViews(spark, outDir)
    println(s"[smoke] registered views: ${views.mkString(", ")}")
    println("[smoke] flagship query (SURVEY §7.3):")
    spark.sql(
      """SELECT slot, proposer_index, version, slot_timestamp FROM blocks
        |WHERE slot > 150 ORDER BY slot DESC LIMIT 10""".stripMargin).show(false)
    println("[smoke] ledger overview:")
    Ledger.overview(chunkLedger.read(spark, Schemas.loadStateChunks)).show(false)
    Ledger.transformStatus(progressLedger.read(spark, Schemas.transformerProgress)).show(false)
    println(s"[smoke] metrics: ${graft.core.Metrics.report(spark)}")
    spark.stop()
  }
}
