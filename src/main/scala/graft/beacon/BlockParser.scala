package graft.beacon

import graft.functions.GraftFunctions.{hex_popcount, safe_long_null}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** The fork-aware block parse layer (reference: src/parsers P1–P17), as a
  * single `from_json` pass with one MAXIMAL schema + per-table column
  * projections. Fork awareness is declarative: fields absent in older forks
  * parse as null and default at projection; the `version` column is the
  * constant-folded fork-schedule CASE chain (C10). No per-row dispatch, no
  * fork-grouped shuffle (the reference's D3 step disappears).
  *
  * Each table is one Column over a parsed payload row: an array of
  * structs holding that payload's rows of the table (a `transform` over
  * the exploded list, or a one-element array under the table's row
  * filter). [[shred]] puts all 13 side by side in one row per payload —
  * the input of the transform's single write — and the per-table frames
  * ([[parseAll]], the `blocks`/`attestations`/… functions) `inline` the
  * same Columns, so both outputs share every projection.
  */
object BlockParser {

  import Schemas._

  /** Attach the parsed payload struct as column `p`. */
  def withParsed(raw: DataFrame): DataFrame =
    raw.withColumn("p", from_json(col("payload"), blockPayload,
      Map("mode" -> "PERMISSIVE", "columnNameOfCorruptRecord" -> "_corrupt_record")))

  /** Nested-path field access on a struct Column (`Column.apply` treats
    * "a.b" as one field name, so split and chain getField). */
  private def field(c: Column, path: String): Column =
    path.split("\\.").foldLeft(c)(_.getField(_))

  private def msg(path: String): Column = field(col("p").getField("data").getField("message"), path)
  private def body(path: String): Column = msg("body." + path)
  private def bodyCol: Column = col("p").getField("data").getField("message").getField("body")

  import ParseHelpers.{s, l}

  // counts are UInt64 in the reference schema → LongType uniformly (a
  // mixed int/long landscape breaks schema-sensitive unions downstream)
  private def sizeOr0(c: Column): Column = coalesce(size(c), lit(0)).cast("long")

  /** One row per element of `list`: `row(element, position)` gives the
    * row's columns, and `extra` columns end every row. */
  private def rowsOf(list: Column, extra: Seq[Column])(row: (Column, Column) => Seq[Column]): Column =
    transform(list, (x, i) => struct(row(x, i) ++ extra: _*))

  /** One row when `keep` holds, none otherwise. */
  private def rowIf(keep: Column, extra: Seq[Column])(row: Seq[Column]): Column =
    when(keep, array(struct(row ++ extra: _*)))

  /** The rows of one table as a frame (no meta columns). */
  private def rowsFrame(parsed: DataFrame, rows: Column): DataFrame =
    parsed.select(inline(rows))

  /** P1: blocks — header/eth1 projection + derived counts + popcount
    * participation (reference: fork_base.py:86-139). Valid-but-sparse
    * JSON (`{}`) yields a defaults row — the reference's dict.get
    * defaults — but an UNPARSEABLE payload (from_json → NULL) must not
    * fabricate a phantom block with proposer 0 and empty roots; the
    * reference raises there. We skip the row (documented divergence:
    * skip vs fail-the-chunk), so every emitted row came from real JSON.
    *
    * "Unparseable" must mean the JSON DOCUMENT failed, not any schema
    * mismatch: PERMISSIVE from_json sets `_corrupt_record` for a single
    * mistyped field too (e.g. the CSV-string attesting_indices variant
    * this engine deliberately tolerates — see [[attesterSlashings]]),
    * while still parsing every other field. Dropping on `_corrupt_record`
    * alone would silently lose the whole block row for a payload whose
    * slashings we DO parse. A parsed field (like `message.slot`) is NOT
    * proof either: partial-results mode keeps every field parsed BEFORE
    * the failure, so a TRUNCATED body (proxy cut mid-stream) carries a
    * real slot and all-null body fields — the exact phantom. The
    * discriminator is a STRUCTURAL probe of the document envelope:
    * `get_json_object(payload, '$.data')` returns null for
    * malformed/truncated JSON and for well-formed NON-block documents (a
    * bare JSON scalar/array from a misbehaving proxy — probing just `'$'`
    * would echo those and fabricate the phantom), but answers normally on
    * a valid enveloped document with a mistyped field — including one
    * legitimately missing `data.message.slot` (probing the slot path
    * would drop that row, stricter than "the block document parses").
    * Evaluated only on corrupt rows (rare), so the second parse is off
    * the hot path. */
  private def blockRows(cfg: ChainConfig, extra: Seq[Column]): Column =
    rowIf(col("p").isNotNull &&
      (col("p").getField("_corrupt_record").isNull ||
        get_json_object(col("payload"), "$.data").isNotNull), extra)(Seq(
      col("slot"),
      l(msg("proposer_index")).as("proposer_index"),
      s(msg("parent_root")).as("parent_root"),
      s(msg("state_root")).as("state_root"),
      s(col("p.data.signature")).as("signature"),
      cfg.forkVersionAtSlot(col("slot")).as("version"),
      s(body("randao_reveal")).as("randao_reveal"),
      s(body("graffiti")).as("graffiti"),
      s(body("eth1_data.deposit_root")).as("eth1_deposit_root"),
      l(body("eth1_data.deposit_count")).as("eth1_deposit_count"),
      s(body("eth1_data.block_hash")).as("eth1_block_hash"),
      coalesce(hex_popcount(body("sync_aggregate.sync_committee_bits")), lit(0))
        .cast("long").as("sync_aggregate_participation"),
      sizeOr0(body("execution_payload.withdrawals")).as("withdrawals_count"),
      sizeOr0(body("blob_kzg_commitments")).as("blob_kzg_commitments_count"),
      (sizeOr0(body("execution_requests.deposits")) +
        sizeOr0(body("execution_requests.withdrawals")) +
        sizeOr0(body("execution_requests.consolidations"))).as("execution_requests_count")))

  def blocks(parsed: DataFrame, cfg: ChainConfig): DataFrame =
    rowsFrame(parsed, blockRows(cfg, Nil))

  /** P2: attestations — enumerate + checkpoint flattening
    * (reference: fork_base.py:163-186). */
  private def attestationRows(extra: Seq[Column]): Column =
    rowsOf(body("attestations"), extra)((att, pos) => Seq(
      col("slot"),
      pos.cast("long").as("attestation_index"),
      s(att("aggregation_bits")).as("aggregation_bits"),
      s(att("signature")).as("signature"),
      // reference `safe_int(att_data.get("slot", slot), slot)`: BOTH a
      // missing field AND an unparseable value fall back to the block
      // slot — safe_long (garbage → 0) would turn garbage into slot 0
      coalesce(safe_long_null(field(att, "data.slot")), col("slot")).as("attestation_slot"),
      l(field(att, "data.index")).as("committee_index"),
      s(field(att, "data.beacon_block_root")).as("beacon_block_root"),
      l(field(att, "data.source.epoch")).as("source_epoch"),
      s(field(att, "data.source.root")).as("source_root"),
      l(field(att, "data.target.epoch")).as("target_epoch"),
      s(field(att, "data.target.root")).as("target_root")))

  def attestations(parsed: DataFrame): DataFrame =
    rowsFrame(parsed, attestationRows(Nil))

  /** P3: deposits (reference: phase0.py:29-44). */
  private def depositRows(extra: Seq[Column]): Column =
    rowsOf(body("deposits"), extra)((d, pos) => Seq(
      col("slot"),
      pos.cast("long").as("deposit_index"),
      s(field(d, "data.pubkey")).as("pubkey"),
      s(field(d, "data.withdrawal_credentials")).as("withdrawal_credentials"),
      l(field(d, "data.amount")).as("amount"),
      s(field(d, "data.signature")).as("signature"),
      coalesce(d("proof"), array()).as("proof")))

  def deposits(parsed: DataFrame): DataFrame =
    rowsFrame(parsed, depositRows(Nil))

  /** P4: voluntary_exits (reference: phase0.py:46-59). */
  private def voluntaryExitRows(extra: Seq[Column]): Column =
    rowsOf(body("voluntary_exits"), extra)((e, pos) => Seq(
      col("slot"),
      pos.cast("long").as("exit_index"),
      s(e("signature")).as("signature"),
      l(field(e, "message.epoch")).as("epoch"),
      l(field(e, "message.validator_index")).as("validator_index")))

  def voluntaryExits(parsed: DataFrame): DataFrame =
    rowsFrame(parsed, voluntaryExitRows(Nil))

  /** P5: proposer_slashings — two signed headers flattened to 12 columns
    * (reference: phase0.py:61-85). */
  private def proposerSlashingRows(extra: Seq[Column]): Column = {
    def header(prefix: String, h: Column) = Seq(
      l(field(h, "message.slot")).as(s"${prefix}_slot"),
      l(field(h, "message.proposer_index")).as(s"${prefix}_proposer_index"),
      s(field(h, "message.parent_root")).as(s"${prefix}_parent_root"),
      s(field(h, "message.state_root")).as(s"${prefix}_state_root"),
      s(field(h, "message.body_root")).as(s"${prefix}_body_root"),
      s(h("signature")).as(s"${prefix}_signature"))
    rowsOf(body("proposer_slashings"), extra)((ps, pos) =>
      col("slot") +: pos.cast("long").as("slashing_index") +:
        (header("header_1", ps("signed_header_1")) ++ header("header_2", ps("signed_header_2"))))
  }

  def proposerSlashings(parsed: DataFrame): DataFrame =
    rowsFrame(parsed, proposerSlashingRows(Nil))

  /** CSV/scalar fallback (reference _parse_attesting_indices): the main
    * maximal schema nulls a non-array attesting_indices; this re-reads the
    * payload's attester slashings with those fields as strings. The
    * second `from_json` runs only for a payload where some slashing's
    * attesting_indices came out null (the rare CSV/scalar variant), so
    * the common path never parses a payload twice. */
  private val SlashingVariant = "__attester_slashings_csv"

  private def withSlashingVariant(parsed: DataFrame): DataFrame =
    parsed.withColumn(SlashingVariant, when(
      exists(body("attester_slashings"), as =>
        as("attestation_1")("attesting_indices").isNull ||
          as("attestation_2")("attesting_indices").isNull),
      from_json(col("payload"), Schemas.attesterSlashingsCsvVariant)
        .getField("data").getField("message").getField("body")
        .getField("attester_slashings")))

  /** P6: attester_slashings — indexed attestations + derived validator
    * counts and distinct-union total (reference: phase0.py:87-190). Reads
    * the column [[withSlashingVariant]] adds. */
  private def attesterSlashingRows(extra: Seq[Column]): Column = {
    // `av` = the CSV-variant struct of the SAME slashing (by position),
    // split on ',' where the maximal schema nulled the array
    def indices(a: Column, av: Column): Column =
      coalesce(
        transform(a("attesting_indices"), x => l(x)),
        transform(split(av("attesting_indices"), ","), x => l(trim(x))),
        array().cast("array<long>"))
    def att(prefix: String, a: Column, av: Column) = Seq(
      l(field(a, "data.slot")).as(s"${prefix}_slot"),
      l(field(a, "data.index")).as(s"${prefix}_committee_index"),
      s(field(a, "data.beacon_block_root")).as(s"${prefix}_beacon_block_root"),
      l(field(a, "data.source.epoch")).as(s"${prefix}_source_epoch"),
      s(field(a, "data.source.root")).as(s"${prefix}_source_root"),
      l(field(a, "data.target.epoch")).as(s"${prefix}_target_epoch"),
      s(field(a, "data.target.root")).as(s"${prefix}_target_root"),
      s(a("signature")).as(s"${prefix}_signature"),
      indices(a, av).as(s"${prefix}_attesting_indices"),
      size(indices(a, av)).cast("long").as(s"${prefix}_validator_count"))
    rowsOf(body("attester_slashings"), extra) { (as, pos) =>
      val asv = element_at(col(SlashingVariant), pos + 1)
      col("slot") +: pos.cast("long").as("slashing_index") +:
        (att("att_1", as("attestation_1"), asv("attestation_1")) ++
          att("att_2", as("attestation_2"), asv("attestation_2")) :+
          size(array_union(
            indices(as("attestation_1"), asv("attestation_1")),
            indices(as("attestation_2"), asv("attestation_2"))))
            .cast("long").as("total_slashed_validators"))
    }
  }

  def attesterSlashings(parsed: DataFrame): DataFrame =
    rowsFrame(withSlashingVariant(parsed), attesterSlashingRows(Nil))

  /** P7: sync_aggregates (Altair+; null-gated, no fork branch needed)
    * (reference: altair.py:15-60). */
  private def syncAggregateRows(extra: Seq[Column]): Column =
    rowIf(bodyCol.getField("sync_aggregate").isNotNull, extra)(Seq(
      col("slot"),
      s(body("sync_aggregate.sync_committee_bits")).as("sync_committee_bits"),
      s(body("sync_aggregate.sync_committee_signature")).as("sync_committee_signature"),
      coalesce(hex_popcount(body("sync_aggregate.sync_committee_bits")), lit(0))
        .cast("long").as("participation_count"),
      coalesce(hex_popcount(body("sync_aggregate.sync_committee_bits")), lit(0))
        .cast("long").as("participating_validators")))

  def syncAggregates(parsed: DataFrame): DataFrame =
    rowsFrame(parsed, syncAggregateRows(Nil))

  /** P8: execution_payloads (Bellatrix+, Deneb blob-gas and Capella
    * withdrawal-count fields default to 0 on older forks)
    * (reference: bellatrix.py:15-58, deneb.py:36-41, capella.py:41-43). */
  private def executionPayloadRows(extra: Seq[Column]): Column = {
    val ep = bodyCol.getField("execution_payload")
    rowIf(ep.isNotNull, extra)(Seq(
      col("slot"),
      s(ep("parent_hash")).as("parent_hash"),
      s(ep("fee_recipient")).as("fee_recipient"),
      s(ep("state_root")).as("state_root"),
      s(ep("receipts_root")).as("receipts_root"),
      s(ep("logs_bloom")).as("logs_bloom"),
      s(ep("prev_randao")).as("prev_randao"),
      l(ep("block_number")).as("block_number"),
      l(ep("gas_limit")).as("gas_limit"),
      l(ep("gas_used")).as("gas_used"),
      l(ep("timestamp")).as("timestamp"),
      s(ep("base_fee_per_gas")).as("base_fee_per_gas"),
      s(ep("block_hash")).as("block_hash"),
      s(ep("extra_data")).as("extra_data"),
      coalesce(size(ep("transactions")), lit(0)).cast("long").as("transactions_count"),
      l(ep("blob_gas_used")).as("blob_gas_used"),
      l(ep("excess_blob_gas")).as("excess_blob_gas"),
      coalesce(size(ep("withdrawals")), lit(0)).cast("long").as("withdrawals_count")))
  }

  def executionPayloads(parsed: DataFrame): DataFrame =
    rowsFrame(parsed, executionPayloadRows(Nil))

  /** `tx_hash_` + `h` (0 ≤ h < 2^32) as 8 lower-case hex digits — the
    * `format_string("tx_hash_%08x", h)` value, built without
    * `java.util.Formatter`. */
  private[graft] def txHashOf(h: Column): Column =
    concat(lit("tx_hash_"), lpad(lower(hex(h)), 8, "0"))

  /** P9: transactions — raw tx hex list exploded with block-level columns
    * broadcast onto each row. `transaction_hash` is a STABLE placeholder
    * (xxhash64 masked to 32 bits, [[txHashOf]]) replacing the reference's process-salted Python
    * `hash()` (bellatrix.py:93-96) — documented divergence, the reference
    * itself is non-reproducible here. */
  private def transactionRows(extra: Seq[Column]): Column = {
    val ep = bodyCol.getField("execution_payload")
    rowsOf(ep("transactions"), extra)((tx, pos) => Seq(
      col("slot"),
      l(ep("block_number")).as("block_number"),
      s(ep("block_hash")).as("block_hash"),
      pos.cast("long").as("transaction_index"),
      txHashOf(xxhash64(tx).bitwiseAND(lit(0xffffffffL))).as("transaction_hash"),
      s(ep("fee_recipient")).as("fee_recipient"),
      l(ep("gas_limit")).as("gas_limit"),
      l(ep("gas_used")).as("gas_used"),
      s(ep("base_fee_per_gas")).as("base_fee_per_gas"),
      lit("").as("from_address"), lit("").as("to_address"),
      lit("").as("value"), lit(0L).as("gas_price"), lit(0L).as("nonce"),
      lit("").as("input")))
  }

  def transactions(parsed: DataFrame): DataFrame =
    rowsFrame(parsed, transactionRows(Nil))

  /** P10: withdrawals (Capella+) (reference: capella.py:22-43). */
  private def withdrawalRows(extra: Seq[Column]): Column = {
    val ep = bodyCol.getField("execution_payload")
    rowsOf(ep("withdrawals"), extra)((w, _) => Seq(
      col("slot"),
      l(ep("block_number")).as("block_number"),
      s(ep("block_hash")).as("block_hash"),
      l(w("index")).as("withdrawal_index"),
      l(w("validator_index")).as("validator_index"),
      s(w("address")).as("address"),
      l(w("amount")).as("amount")))
  }

  def withdrawals(parsed: DataFrame): DataFrame =
    rowsFrame(parsed, withdrawalRows(Nil))

  /** P11: bls_changes (Capella+) (reference: capella.py:46-60). */
  private def blsChangeRows(extra: Seq[Column]): Column =
    rowsOf(body("bls_to_execution_changes"), extra)((c, pos) => Seq(
      col("slot"),
      pos.cast("long").as("change_index"),
      s(c("signature")).as("signature"),
      l(field(c, "message.validator_index")).as("validator_index"),
      s(field(c, "message.from_bls_pubkey")).as("from_bls_pubkey"),
      s(field(c, "message.to_execution_address")).as("to_execution_address")))

  def blsChanges(parsed: DataFrame): DataFrame =
    rowsFrame(parsed, blsChangeRows(Nil))

  /** P12: blob_commitments (Deneb+) (reference: deneb.py:22-33). */
  private def blobCommitmentRows(extra: Seq[Column]): Column =
    rowsOf(body("blob_kzg_commitments"), extra)((c, pos) => Seq(
      col("slot"),
      pos.cast("long").as("commitment_index"),
      s(c).as("commitment")))

  def blobCommitments(parsed: DataFrame): DataFrame =
    rowsFrame(parsed, blobCommitmentRows(Nil))

  /** P14: execution_requests (Electra+) — whole object kept as a JSON
    * string + counts; row emitted only when any count > 0
    * (reference: electra.py:53-84). */
  private def executionRequestRows(extra: Seq[Column]): Column = {
    val er = bodyCol.getField("execution_requests")
    rowIf(er.isNotNull &&
      (sizeOr0(er("deposits")) > 0 || sizeOr0(er("withdrawals")) > 0 ||
        sizeOr0(er("consolidations")) > 0), extra)(Seq(
      col("slot"),
      coalesce(get_json_object(col("payload"), "$.data.message.body.execution_requests"),
        lit("")).as("payload"),
      sizeOr0(er("deposits")).as("deposits_count"),
      sizeOr0(er("withdrawals")).as("withdrawals_count"),
      sizeOr0(er("consolidations")).as("consolidations_count")))
  }

  def executionRequestsTable(parsed: DataFrame): DataFrame =
    rowsFrame(parsed, executionRequestRows(Nil))

  /** Every block table's rows as a Column, by table name. */
  private def tableRows(cfg: ChainConfig, extra: Seq[Column]): Seq[(String, Column)] = Seq(
    "blocks" -> blockRows(cfg, extra),
    "attestations" -> attestationRows(extra),
    "deposits" -> depositRows(extra),
    "voluntary_exits" -> voluntaryExitRows(extra),
    "proposer_slashings" -> proposerSlashingRows(extra),
    "attester_slashings" -> attesterSlashingRows(extra),
    "sync_aggregates" -> syncAggregateRows(extra),
    "execution_payloads" -> executionPayloadRows(extra),
    "transactions" -> transactionRows(extra),
    "withdrawals" -> withdrawalRows(extra),
    "bls_changes" -> blsChangeRows(extra),
    "blob_commitments" -> blobCommitmentRows(extra),
    "execution_requests" -> executionRequestRows(extra))

  /** The 1-raw-source → 13-table fan-out (SURVEY §3.2) as ONE frame: per
    * raw row, `slot`, `month` and one column per table holding that
    * payload's final rows of the table — `slot_timestamp` and
    * `insert_version` included — as an `array<struct>` (null or empty:
    * no rows). The payload is parsed once, inside the same projection. */
  def shred(raw: DataFrame, cfg: ChainConfig, insertVersion: Long = 0L): DataFrame = {
    val parsed = ParseHelpers.withMeta(withSlashingVariant(withParsed(raw)), cfg, insertVersion)
    val meta = Seq(col("slot_timestamp"), col("insert_version"))
    parsed.select(col("slot") +: ParseHelpers.month(cfg) +:
      tableRows(cfg, meta).map { case (t, rows) => rows.as(t) }: _*)
  }

  /** All block-derived tables as frames: the [[shred]] columns, inlined. */
  def parseAll(
      raw: DataFrame, cfg: ChainConfig, insertVersion: Long = 0L,
      allowedTables: Option[Set[String]] = None): Map[String, DataFrame] = {
    val shredded = shred(raw, cfg, insertVersion)
    Transformer.blockTables
      .filter(t => allowedTables.forall(_.contains(t))) // F8 allowed-tables filter
      .map(t => t -> shredded.select(inline(col(t))))
      .toMap
  }
}
