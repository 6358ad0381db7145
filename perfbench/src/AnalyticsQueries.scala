package perfbench

import graft.beacon._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Row, SparkSession}

/** The analytics read path over a backfilled store: a seeded share of its
  * slots is re-fetched with a changed payload and the whole range
  * re-transformed at a later version, so `latest()` has real duplicates to
  * collapse; then each query of a fixed list runs once, its result checked
  * against the generator's closed forms. */
final class AnalyticsQueries(base: ChainGen, store: Store, ranges: Seq[(Long, Long)]) {
  import AnalyticsQueries._
  import Pipeline._

  private val gen = base.copy(refetch = true)
  private val lo = ranges.head._1
  private val hi = ranges.last._2
  private lazy val exp = gen.expected(lo, hi)
  private lazy val live = (lo to hi).filterNot(gen.isEmpty)

  /** Re-fetches the seeded share of slots and re-transforms the range. */
  def refetch(spark: SparkSession): Boolean = {
    val g = gen // the gate ships to executors: capture the generator alone
    val refetched: Long => Boolean = s => g.isRefetched(s)
    RawIngest.ingestChunksFused(spark, cfg, gen, store.raw, store.chunks, "blocks",
      ranges, parallelism = spark.sparkContext.defaultParallelism, gate = Some(refetched)) &&
      Transformer.transformChunksFused(spark, cfg, Loaders.blocks, store.raw,
        store.tables, store.progress, ranges)
  }

  /** (name, query returning its collected rows, check of those rows). */
  private def queries(spark: SparkSession): Seq[(String, () => Array[Row], Array[Row] => Option[String])] = {
    def blocks = latest(spark, store, "blocks")
    def withdrawals = latest(spark, store, "withdrawals")
    def ledger = store.chunks.read(spark, Schemas.loadStateChunks)
    def progress = store.progress.read(spark, Schemas.transformerProgress)
    def one(rows: Array[Row]) = rows.headOption.getOrElse(Row.empty)
    Seq(
      ("latest_blocks", () => blocks.agg(count(lit(1)), countDistinct("slot"),
        sum(when(col("graffiti") === ChainGen.RefetchGraffiti, 1).otherwise(0))).collect(),
        rows => { val r = one(rows); firstError(
          mismatch("rows", r.getLong(0), exp.blocks),
          mismatch("distinct keys", r.getLong(1), exp.blocks),
          mismatch("re-fetched versions", r.getLong(2), exp.refetched)) }),
      ("latest_attestations", () => latest(spark, store, "attestations")
        .agg(count(lit(1)), countDistinct("slot", "attestation_index", "committee_index")).collect(),
        rows => { val r = one(rows); firstError(
          mismatch("rows", r.getLong(0), exp.attestations),
          mismatch("distinct keys", r.getLong(1), exp.attestations)) }),
      ("latest_withdrawals", () => withdrawals.agg(count(lit(1)),
        countDistinct("slot", "withdrawal_index", "validator_index"), sum("amount")).collect(),
        rows => { val r = one(rows); firstError(
          mismatch("rows", r.getLong(0), exp.withdrawals),
          mismatch("distinct keys", r.getLong(1), exp.withdrawals),
          mismatch("amount", r.getLong(2), exp.withdrawalAmount)) }),
      ("topProposers", () => Analytics.topProposers(blocks).collect(),
        rows => {
          val got = rows.map(r => (r.getLong(0), r.getLong(1))).toSeq
          if (got == expectedTopProposers) None
          else Some(s"top proposers ${got.take(3)}… != ${expectedTopProposers.take(3)}…")
        }),
      ("hourlyBlockProduction", () => Analytics.hourlyBlockProduction(blocks).collect(),
        rows => firstError(
          mismatch("hours", rows.length,
            live.map(s => (cfg.genesisTimeUnix + s * cfg.secondsPerSlot) / 3600).distinct.size),
          mismatch("blocks", rows.map(_.getLong(1)).sum, exp.blocks))),
      ("dailyWithdrawals", () => Analytics.dailyWithdrawals(withdrawals).collect(),
        rows => firstError(
          mismatch("withdrawals", rows.map(_.getLong(1)).sum, exp.withdrawals),
          mismatch("gwei", rows.map(r => r.getAs[Number](2).longValue).sum, exp.withdrawalAmount))),
      ("forkDistribution", () => Analytics.forkDistribution(blocks).collect(),
        rows => firstError(
          mismatch("fork rows", rows.length, 1),
          mismatch("blocks", rows.map(_.getLong(1)).sum, exp.blocks))),
      ("participationSeries", () => Analytics.participationSeries(
        latest(spark, store, "sync_aggregates"), cfg).collect(),
        rows => firstError(
          mismatch("epochs", rows.length, live.map(_ / cfg.slotsPerEpoch).distinct.size),
          mismatch("slots", rows.map(_.getLong(2)).sum, exp.syncAggregates))),
      ("transformStatus", () => Ledger.transformStatus(progress).collect(),
        rows => firstError(
          mismatch("loaders", rows.length, 1),
          mismatch("completed chunks", one(rows).getAs[Number]("completed").longValue, ranges.length),
          mismatch("rows processed", one(rows).getAs[Number]("rows_processed").longValue, exp.allTables))),
      ("statusCounts", () => Ledger.statusCounts(ledger).collect(),
        rows => firstError(
          mismatch("status rows", rows.length, 1),
          mismatch("completed chunks", one(rows).getLong(2), ranges.length))),
      ("untransformedChunks", () => Ledger.untransformedChunks(ledger, progress, "blocks").collect(),
        rows => mismatch("untransformed chunks", rows.length, 0)))
  }

  private lazy val expectedTopProposers: Seq[(Long, Long)] =
    live.groupBy(gen.proposer).view.mapValues(_.size.toLong).toSeq
      .filter(_._2 >= 10).sortBy { case (p, n) => (-n, p) }.take(20)

  /** Runs every query once, timed in its own span and checked. */
  def runAll(ctx: Ctx): Unit = queries(ctx.spark).foreach { case (name, q, check) =>
    ctx.group(s"analytics.$name")
    ctx.book.run(s"analytics $name", sample = false) {
      val rows = ctx.span(name, "Analytics")(q())
      returned(name) = rows.length.toLong
      rows
    }(check)
  }

  private val returned = scala.collection.mutable.Map.empty[String, Long]

  def layerMetrics(tracer: Tracer): Seq[(String, Double, String)] = {
    val jobs = tracer.jobs.groupBy(_.spanId)
    Names.flatMap { name =>
      val ss = tracer.spans.filter(s => s.name == name && s.layer == "Analytics")
      val js = ss.map(s => jobs.getOrElse(s.id, Nil))
      val rowsOut = returned.getOrElse(name, 1L).max(1L)
      if (ss.isEmpty) Nil else Seq(
        (s"analytics.$name.s", Stats.median(ss.map(_.wall / 1e3)), "s"),
        (s"analytics.$name.jobs", Stats.median(js.map(_.size.toDouble)), "count"),
        (s"analytics.$name.rows_scanned_per_row_returned",
          Stats.median(js.map(_.map(_.recordsRead).sum.toDouble / rowsOut)), "ratio"))
    }
  }
}

object AnalyticsQueries {
  val Names: Seq[String] = Seq(
    "latest_blocks", "latest_attestations", "latest_withdrawals", "topProposers",
    "hourlyBlockProduction", "dailyWithdrawals", "forkDistribution",
    "participationSeries", "transformStatus", "statusCounts", "untransformedChunks")
}
