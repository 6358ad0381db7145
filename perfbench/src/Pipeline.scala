package perfbench

import graft.beacon._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The beacon store one workload works on: raw table, structured tables and
  * both ledgers under one directory. */
final case class Store(dir: String) {
  val raw = s"$dir/raw_blocks"
  val tables = s"$dir/tables"
  val chunks = LedgerStore(s"$dir/load_state_chunks")
  val progress = LedgerStore(s"$dir/transformer_progress")
}

/** Shared pieces of the pipeline workloads: chunk planning and the output
  * checks against the generator's closed forms. */
object Pipeline {
  val cfg: ChainConfig = ChainConfig.gnosis
  val ChunkSize = 100L

  def chunks(first: Long, n: Int): Seq[(Long, Long)] =
    (0 until n).map(i => (first + i * ChunkSize, first + (i + 1) * ChunkSize - 1))

  def latest(spark: SparkSession, store: Store, table: String): DataFrame =
    Transformer.latestTable(spark, store.tables, table, Transformer.tableKeys(table))

  def mismatch(what: String, got: Long, want: Long): Option[String] =
    if (got == want) None else Some(s"$what: got $got, expected $want")

  def firstError(checks: Option[String]*): Option[String] = checks.flatten.headOption

  /** Row parity of raw and structured tables over a slot range of a store
    * whose slots were each fetched and transformed once. */
  def tableParity(spark: SparkSession, store: Store, lo: Long, hi: Long,
      exp: Expected): Option[String] = {
    def n(dir: String) = spark.read.parquet(dir).filter(col("slot").between(lo, hi)).count()
    firstError(
      mismatch("raw rows", n(store.raw), exp.blocks),
      mismatch("blocks rows", n(s"${store.tables}/blocks"), exp.blocks),
      mismatch("attestations rows", n(s"${store.tables}/attestations"), exp.attestations),
      mismatch("withdrawals rows", n(s"${store.tables}/withdrawals"), exp.withdrawals))
  }

  /** One completed load chunk and one completed progress row per chunk,
    * with the progress counts equal to the generator's. */
  def ledgerParity(spark: SparkSession, store: Store, gen: ChainGen,
      ranges: Seq[(Long, Long)]): Option[String] = {
    val loaded = Ledger.chunkStates(store.chunks.read(spark, Schemas.loadStateChunks))
      .filter(col("status") === "completed")
      .select("start_slot", "end_slot").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val progress = Ledger.progressStates(store.progress.read(spark, Schemas.transformerProgress))
      .filter(col("status") === "completed")
      .select("start_slot", "end_slot", "processed_count").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    ranges.iterator.map { case (s, e) =>
      if (!loaded((s, e))) Some(s"chunk $s-$e not completed in the load ledger")
      else progress.get((s, e)) match {
        case None => Some(s"chunk $s-$e has no completed progress row")
        case Some(p) => mismatch(s"progress count of $s-$e", p, gen.expected(s, e).allTables)
      }
    }.collectFirst { case Some(err) => err }
  }
}
