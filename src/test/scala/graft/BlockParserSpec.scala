package graft

import graft.beacon._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** The production session ([[graft.core.Sessions.local]]) on 4 cores,
  * shared by every suite of the test JVM. */
object SparkTestSession {
  lazy val spark: SparkSession = graft.core.Sessions.local(4)
}

class BlockParserSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark
  import spark.implicits._

  private val cfg = ChainConfig.gnosis

  private def rawOf(rows: (Long, String)*): DataFrame =
    rows.toSeq
      .map { case (s, p) =>
        (s, p, graft.functions.CanonicalJson.payloadHash16(p),
          new java.sql.Timestamp(1700000000000L))
      }
      .toDF("slot", "payload", "payload_hash", "retrieved_at")

  private lazy val tables = BlockParser.parseAll(
    rawOf(21405700L -> BeaconFixtures.electraBlock, 5L -> BeaconFixtures.phase0Block),
    cfg, insertVersion = 7L)

  test("blocks: header fields, derived counts, popcount, fork version (P1)") {
    val b = tables("blocks").orderBy("slot").collect()
    assert(b.length === 2)
    val phase0 = b(0)
    assert(phase0.getAs[String]("version") === "0x00000064")
    assert(phase0.getAs[Long]("sync_aggregate_participation") === 0L)
    assert(phase0.getAs[Long]("withdrawals_count") === 0L)
    val electra = b(1)
    assert(electra.getAs[Long]("proposer_index") === 12345L)
    assert(electra.getAs[String]("version") === "0x05000064")
    assert(electra.getAs[Long]("eth1_deposit_count") === 567L)
    // 0xffff = 16 set bits
    assert(electra.getAs[Long]("sync_aggregate_participation") === 16L)
    assert(electra.getAs[Long]("withdrawals_count") === 2L)
    assert(electra.getAs[Long]("blob_kzg_commitments_count") === 2L)
    // 1 deposit + 1 withdrawal + 0 consolidations
    assert(electra.getAs[Long]("execution_requests_count") === 2L)
    assert(electra.getAs[Long]("insert_version") === 7L)
  }

  test("attestations: enumerate + checkpoint flatten (P2)") {
    val a = tables("attestations").orderBy("attestation_index").collect()
    assert(a.length === 2)
    assert(a(0).getAs[Long]("attestation_index") === 0L)
    assert(a(0).getAs[Long]("committee_index") === 3L)
    assert(a(0).getAs[Long]("source_epoch") === 1337855L)
    assert(a(1).getAs[Long]("attestation_slot") === 21405698L)
  }

  test("deposits keep proof array (P3)") {
    val d = tables("deposits").collect()
    assert(d.length === 1)
    assert(d(0).getAs[Seq[String]]("proof") === Seq("0xp1", "0xp2"))
    assert(d(0).getAs[Long]("amount") === 32000000000L)
  }

  test("attester_slashings: indices cast + distinct union total (P6)") {
    val s = tables("attester_slashings").collect()
    assert(s.length === 1)
    val r = s(0)
    assert(r.getAs[Seq[Long]]("att_1_attesting_indices") === Seq(1L, 2L, 3L))
    assert(r.getAs[Long]("att_1_validator_count") === 3L)
    assert(r.getAs[Long]("att_2_validator_count") === 4L)
    // |{1,2,3} ∪ {2,3,4,5}| = 5
    assert(r.getAs[Long]("total_slashed_validators") === 5L)
  }

  test("sync_aggregates only for blocks carrying one; popcount columns (P7)") {
    val s = tables("sync_aggregates").collect()
    assert(s.length === 1)
    assert(s(0).getAs[Long]("participation_count") === 16L)
    assert(s(0).getAs[Long]("participating_validators") === 16L)
  }

  test("execution_payloads: Deneb fields, huge base_fee stays string (P8)") {
    val e = tables("execution_payloads").collect()
    assert(e.length === 1)
    val r = e(0)
    assert(r.getAs[Long]("block_number") === 35000000L)
    assert(r.getAs[Long]("transactions_count") === 3L)
    assert(r.getAs[Long]("withdrawals_count") === 2L)
    assert(r.getAs[Long]("blob_gas_used") === 131072L)
    // > Long.MaxValue — preserved as string (migration declares String)
    assert(r.getAs[String]("base_fee_per_gas") === "18446744073709551616")
  }

  test("transactions: stable placeholder hash format (P9, documented divergence)") {
    val t = tables("transactions").orderBy("transaction_index").collect()
    assert(t.length === 3)
    assert(t.forall(_.getAs[String]("transaction_hash").matches("tx_hash_[0-9a-f]{8}")))
    assert(t(0).getAs[Long]("gas_limit") === 30000000L)
    // deterministic across runs
    val again = BlockParser.parseAll(
      rawOf(21405700L -> BeaconFixtures.electraBlock), cfg)("transactions")
      .orderBy("transaction_index").collect()
    assert(t.map(_.getAs[String]("transaction_hash")).toSeq ===
      again.map(_.getAs[String]("transaction_hash")).toSeq)
  }

  test("withdrawals / bls_changes / blob_commitments (P10-P12)") {
    assert(tables("withdrawals").count() === 2)
    val w = tables("withdrawals").orderBy("withdrawal_index").head()
    assert(w.getAs[Long]("withdrawal_index") === 9000L)
    assert(w.getAs[Long]("amount") === 123456L)
    val b = tables("bls_changes").head()
    assert(b.getAs[Long]("validator_index") === 55L)
    val c = tables("blob_commitments").orderBy("commitment_index").collect()
    assert(c.map(_.getAs[String]("commitment")).toSeq === Seq("0xkzg1", "0xkzg2"))
  }

  test("execution_requests: JSON payload + counts, zero-count rows dropped (P14)") {
    val e = tables("execution_requests").collect()
    assert(e.length === 1)
    val r = e(0)
    assert(r.getAs[Long]("deposits_count") === 1L)
    assert(r.getAs[Long]("withdrawals_count") === 1L)
    assert(r.getAs[Long]("consolidations_count") === 0L)
    assert(r.getAs[String]("payload").contains("\"pubkey\""))
  }

  test("attester_slashings: CSV-string attesting_indices fallback (phase0.py parity)") {
    val csvPayload = BeaconFixtures.electraBlock
      .replace("\"attesting_indices\": [\"1\", \"2\", \"3\"]",
        "\"attesting_indices\": \"1, 2, 3\"")
    val out = BlockParser.parseAll(
      rawOf(21405700L -> csvPayload), cfg)("attester_slashings").head()
    assert(out.getAs[Seq[Long]]("att_1_attesting_indices") === Seq(1L, 2L, 3L))
    assert(out.getAs[Long]("att_1_validator_count") === 3L)
    assert(out.getAs[Long]("total_slashed_validators") === 5L)
  }

  test("blocks: the tolerated CSV-variant payload keeps its blocks row (schema mismatch != unparseable)") {
    // PERMISSIVE from_json flags the CSV-string attesting_indices as
    // _corrupt_record while parsing everything else — the phantom-row
    // filter must not drop the block the slashings parser DOES handle
    val csvPayload = BeaconFixtures.electraBlock
      .replace("\"attesting_indices\": [\"1\", \"2\", \"3\"]",
        "\"attesting_indices\": \"1, 2, 3\"")
    val t = BlockParser.parseAll(rawOf(21405700L -> csvPayload), cfg)
    val b = t("blocks").collect()
    assert(b.length === 1, "CSV-variant payload must not lose its blocks row")
    assert(b.head.getAs[Long]("slot") === 21405700L)
    assert(b.head.getAs[String]("parent_root").nonEmpty) // fields parsed, not defaults
    assert(t("attester_slashings").count() >= 1L) // cross-table consistency
  }

  test("blocks: well-formed NON-block JSON (scalar/array payload) is dropped, not a phantom") {
    // a misbehaving proxy can answer 200 with valid-JSON garbage: a bare
    // string, a number, an array. from_json corrupt-flags them with every
    // field null; the rescue must NOT echo them through (a '$' root probe
    // would — only an enveloped document with $.data qualifies)
    // (valid-but-sparse OBJECTS like {} keep their documented defaults-row
    // behavior — only corrupt-flagged non-envelopes are at issue here)
    for (garbage <- Seq("\"Too Many Requests\"", "123", "[1,2,3]")) {
      val t = BlockParser.parseAll(rawOf(21405700L -> garbage), cfg)
      assert(t("blocks").count() === 0L,
        s"payload $garbage must not produce a blocks row")
    }
  }

  test("blocks: corrupt-flagged payload legitimately MISSING data.message.slot is kept (document parses)") {
    // the rescue discriminator is "document parses" (structural probe of
    // the root), not "slot path present": a well-formed payload with a
    // mistyped field somewhere AND no data.message.slot must keep its row
    // (defaults), like any other valid-but-sparse document
    val noSlot = BeaconFixtures.electraBlock
      .replace("\"attesting_indices\": [\"1\", \"2\", \"3\"]",
        "\"attesting_indices\": \"1, 2, 3\"") // mistyped field -> _corrupt_record
      .replaceFirst("\"slot\": \"21405700\",", "") // drop the message slot
    assert(!noSlot.contains("\"slot\": \"21405700\""))
    val t = BlockParser.parseAll(rawOf(21405700L -> noSlot), cfg)
    val b = t("blocks").collect()
    assert(b.length === 1, "well-formed slotless payload must keep its blocks row")
    assert(b.head.getAs[Long]("slot") === 21405700L) // table slot from ingest column
  }

  test("blocks: a TRUNCATED payload is dropped even though partial parsing recovered its slot") {
    // partial-results parsing keeps fields before the cut, so the slot is
    // real while the body is all-null — emitting it would fabricate a
    // phantom block with proposer 0 and empty roots
    val full = BeaconFixtures.electraBlock
    val cut = full.substring(0, (full.length * 3) / 5)
    assert(cut.contains("\"slot\""), "fixture must be cut AFTER the slot field")
    val t = BlockParser.parseAll(rawOf(21405700L -> cut), cfg)
    assert(t("blocks").count() === 0L, "truncated JSON must never produce a blocks row")
  }

  test("attestations: garbage data.slot falls back to BLOCK slot, not 0 (safe_int parity)") {
    // reference fork_base.py:210-222: safe_int(att_data.get("slot", slot), slot)
    // → both a missing field and an unparseable value yield the block slot
    val garbage = BeaconFixtures.electraBlock
      .replaceFirst("\"slot\": \"21405699\"", "\"slot\": \"not-a-number\"")
    val a = BlockParser.parseAll(rawOf(21405700L -> garbage), cfg)("attestations")
      .orderBy("attestation_index").collect()
    assert(a(0).getAs[Long]("attestation_slot") === 21405700L)
  }

  test("attester_slashings: CSV fallback payload re-parse is gated (single ungated from_json)") {
    // on a pre-parsed frame the only from_json left is the CSV-variant one,
    // and it must sit under the null-gate CASE — the common all-array path
    // never re-parses the raw payload
    val prepared = BlockParser.withParsed(rawOf(21405700L -> BeaconFixtures.electraBlock))
      .persist()
    try {
      prepared.count() // materialize so the shared parse is an InMemoryRelation
      val plan = BlockParser.attesterSlashings(prepared)
        .queryExecution.optimizedPlan.toString()
      assert("from_json".r.findAllIn(plan).length === 1)
      assert(plan.toLowerCase.contains("case when"))
    } finally prepared.unpersist()
  }

  test("capella-era block: deneb/electra fields null-gate, capella tables emit") {
    // strip deneb+electra additions from the electra fixture -> capella shape
    val capella = BeaconFixtures.electraBlock
      .replace("\"blob_kzg_commitments\": [\"0xkzg1\", \"0xkzg2\"],", "")
      // empty the electra request lists (a real capella block omits the
      // field entirely; null-gate and zero-gate behave identically)
      .replaceAll("(?s)\"deposits\": \\[\\{\"pubkey\": \"0xqp.*?\\}\\]", "\"deposits\": []")
      .replaceAll("(?s)\"withdrawals\": \\[\\{\"source_address.*?\\}\\]", "\"withdrawals\": []")
      .replaceAll(",\\s*\"blob_gas_used\": \"131072\", \"excess_blob_gas\": \"0\"\\}", "}")
      .replace("\"slot\": \"21405700\"", "\"slot\": \"10400000\"") // capella epoch range
    val t = BlockParser.parseAll(rawOf(10400000L -> capella), cfg)
    val b = t("blocks").head()
    assert(b.getAs[String]("version") === "0x03000064") // capella on gnosis
    assert(b.getAs[Long]("blob_kzg_commitments_count") === 0L)
    assert(b.getAs[Long]("execution_requests_count") === 0L)
    assert(b.getAs[Long]("withdrawals_count") === 2L) // capella feature present
    val ep = t("execution_payloads").head()
    assert(ep.getAs[Long]("blob_gas_used") === 0L) // deneb default
    assert(t("blob_commitments").count() === 0)
    assert(t("execution_requests").count() === 0)
    assert(t("withdrawals").count() === 2)
    assert(t("bls_changes").count() === 1)
  }

  test("F8: allowedTables filters the fan-out") {
    val only = BlockParser.parseAll(
      rawOf(21405700L -> BeaconFixtures.electraBlock), cfg,
      allowedTables = Some(Set("blocks", "attestations")))
    assert(only.keySet === Set("blocks", "attestations"))
  }

  test("degenerate payloads: empty object, missing body, garbage — no crash, safe defaults") {
    val degenerate = rawOf(
      1L -> "{}",
      2L -> """{"data": {"message": {"slot": "2"}}}""",
      3L -> "complete garbage",
      4L -> """{"version": "phase0", "data": {"message": {"slot": "4", "body": {}}}}""")
    val t = BlockParser.parseAll(degenerate, cfg)
    val blocks = t("blocks").orderBy("slot").collect()
    // valid-but-sparse JSON → defaults row (reference dict.get parity);
    // UNPARSEABLE JSON (slot 3) is skipped, never a phantom block
    assert(blocks.length === 3)
    assert(blocks.map(_.getAs[Long]("slot")).toSeq === Seq(1L, 2L, 4L))
    assert(blocks.forall(_.getAs[Long]("proposer_index") === 0L))
    assert(blocks.forall(_.getAs[String]("parent_root") === ""))
    assert(blocks(0).getAs[String]("version") === "0x00000064")
    // list-derived tables stay empty rather than erroring
    assert(t("attestations").count() === 0)
    assert(t("transactions").count() === 0)
    assert(t("attester_slashings").count() === 0)
  }

  test("slot_timestamp = genesis + slot*5s (C8 on gnosis)") {
    val b = tables("blocks").filter($"slot" === 5L).head()
    val ts = b.getAs[java.sql.Timestamp]("slot_timestamp")
    assert(ts.getTime / 1000 === cfg.genesisTimeUnix + 5 * 5)
  }
}
