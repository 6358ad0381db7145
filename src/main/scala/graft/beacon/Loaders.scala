package graft.beacon

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{array, col, struct}

/** One loader = one beacon endpoint + fetch cadence/gates + the parser for
  * its raw table (reference: src/loaders registry, src/services/
  * beacon_api.py S2–S8, transformer loader config transformer.py:41-69).
  *
  * `allowEmpty404`: block-style endpoints treat 404 as a normal empty slot;
  * state endpoints (validators, pending queues) must exist → a 404 is an
  * error (reference: beacon_api.py:173-212).
  */
final case class LoaderDef(
    name: String,
    endpointTemplate: String,
    allowEmpty404: Boolean,
    /** fetch only at the last slot of each UTC day (validators + queues). */
    dailyOnly: Boolean,
    /** fork whose activation gates fetching (F5), if any. */
    activationFork: Option[String],
    /** structured tables this loader owns (F8 allowed-tables filter). */
    tables: Set[String],
    /** shred the raw frame (insert version given): `slot`, `month` and,
      * per table, an `array<struct>` column of its final rows, meta
      * columns included (see [[BlockParser.shred]]). The transform writes
      * the columns of [[tables]] in one job. */
    shred: (DataFrame, ChainConfig, Long) => DataFrame,
    /** mega-payload loaders (validators: ~150 MB/slot on mainnet) split
      * the `data[]` array into parts at fetch time (P19,
      * [[RawIngest.fetchSlotsSplit]]); parsers work per part. */
    splitPayload: Boolean = false) {

  def rawTable: String = s"raw_$name"

  def httpFetcher(baseUrl: String, apiKey: Option[String] = None): HttpSlotFetcher =
    HttpSlotFetcher(baseUrl, endpointTemplate, allowEmpty404, apiKey)

  def gateSlots(cfg: ChainConfig, slots: Seq[Long]): Seq[Long] =
    RawIngest.gateSlots(cfg, slots, activationFork, dailyOnly)
}

/** The loader registry (reference: src/loaders/__init__.py:11-33). */
object Loaders {

  /** A one-table shred: each row of `f`'s output becomes a one-element
    * array under the column `out`. */
  private def single(out: String)(
      f: (DataFrame, ChainConfig, Long) => DataFrame): (DataFrame, ChainConfig, Long) => DataFrame =
    (raw, cfg, v) => {
      val rows = f(raw, cfg, v)
      rows.select(col("slot"), ParseHelpers.month(cfg),
        array(struct(rows.columns.map(col): _*)).as(out))
    }

  val blocks: LoaderDef = LoaderDef(
    "blocks", "/eth/v2/beacon/blocks/{slot}",
    allowEmpty404 = true, dailyOnly = false, activationFork = None,
    tables = Transformer.blockTables,
    shred = (raw, cfg, v) => BlockParser.shred(raw, cfg, v))

  val validators: LoaderDef = LoaderDef(
    "validators", "/eth/v1/beacon/states/{slot}/validators",
    allowEmpty404 = false, dailyOnly = true, activationFork = None,
    tables = Set("validators"),
    shred = single("validators")(StateParsers.validators),
    splitPayload = true)

  /** S3: validators fetch with the optional `id` filter — a comma-joined
    * list as the `id` query param (reference: beacon_api.py:173-181,
    * `get_validators(state_id, validator_ids)`). */
  def validatorsFetcher(
      baseUrl: String, ids: Seq[String] = Nil,
      apiKey: Option[String] = None): HttpSlotFetcher =
    HttpSlotFetcher(
      baseUrl, validators.endpointTemplate, allowEmpty404 = false, apiKey,
      extraQuery = if (ids.isEmpty) Nil else Seq("id=" + ids.mkString(",")))

  val rewards: LoaderDef = LoaderDef(
    "rewards", "/eth/v1/beacon/rewards/blocks/{slot}",
    allowEmpty404 = true, dailyOnly = false, activationFork = None,
    tables = Set("rewards"),
    shred = single("rewards")(StateParsers.rewards))

  val pendingConsolidations: LoaderDef = LoaderDef(
    "pending_consolidations", "/eth/v1/beacon/states/{slot}/pending_consolidations",
    allowEmpty404 = false, dailyOnly = true, activationFork = Some("electra"),
    tables = Set("pending_consolidations"),
    shred = single("pending_consolidations")(StateParsers.pendingConsolidations))

  val pendingDeposits: LoaderDef = LoaderDef(
    "pending_deposits", "/eth/v1/beacon/states/{slot}/pending_deposits",
    allowEmpty404 = false, dailyOnly = true, activationFork = Some("electra"),
    tables = Set("pending_deposits"),
    shred = single("pending_deposits")(StateParsers.pendingDeposits))

  val pendingPartialWithdrawals: LoaderDef = LoaderDef(
    "pending_partial_withdrawals", "/eth/v1/beacon/states/{slot}/pending_partial_withdrawals",
    allowEmpty404 = false, dailyOnly = true, activationFork = Some("electra"),
    tables = Set("pending_partial_withdrawals"),
    shred = single("pending_partial_withdrawals")(StateParsers.pendingPartialWithdrawals))

  val blobSidecars: LoaderDef = LoaderDef(
    "blob_sidecars", "/eth/v1/beacon/blobs/{slot}",
    allowEmpty404 = true, dailyOnly = false, activationFork = Some("deneb"),
    tables = Set("blob_sidecars"),
    shred = single("blob_sidecars")(StateParsers.blobSidecars))

  val dataColumnSidecars: LoaderDef = LoaderDef(
    "data_column_sidecars", "/eth/v1/debug/beacon/data_column_sidecars/{slot}",
    allowEmpty404 = true, dailyOnly = false, activationFork = Some("fulu"),
    tables = Set("data_column_sidecars"),
    shred = single("data_column_sidecars")(StateParsers.dataColumnSidecars))

  val all: Seq[LoaderDef] = Seq(
    blocks, validators, rewards, pendingConsolidations, pendingDeposits,
    pendingPartialWithdrawals, blobSidecars, dataColumnSidecars)

  def byName(name: String): LoaderDef =
    all.find(_.name == name).getOrElse(sys.error(s"unknown loader: $name"))

  /** K3: per-table output sizing — rows per output file tuned by expected
    * row width (reference write-chunk sizes, transformer.py:17-19).
    * Applied as `maxRecordsPerFile` so wide tables don't produce
    * monolithic parquet files. */
  val maxRecordsPerFile: Map[String, Long] = Map(
    "transactions" -> 50000L,
    "attestations" -> 100000L,
    "validators" -> 500000L,
  ).withDefaultValue(1000000L)
}
