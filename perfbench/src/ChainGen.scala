package perfbench

import graft.beacon.SlotFetcher

/** Seeded synthetic Electra-era chain, served through the program's
  * `SlotFetcher` interface. Every per-slot property is a pure function of
  * (seed, slot), so the expected row counts of every table are closed forms
  * the output checks compute without parsing a payload.
  *
  * About 1/32 of slots are empty (the fetch returns None, as for a missed
  * block). A non-empty slot carries 1–8 attestations, 0–8 withdrawals,
  * 0–12 transactions and 0–2 blob commitments, each count uniform. The
  * attestation, withdrawal and blob counts stop at the protocol's per-block
  * limits: `MAX_ATTESTATIONS_ELECTRA` (8), Gnosis's
  * `MAX_WITHDRAWALS_PER_PAYLOAD` (8) and `MAX_BLOBS_PER_BLOCK` (2); the
  * sync-committee bitfield has `SYNC_COMMITTEE_SIZE` (512) bits.
  * The empty-slot rate, the uniform draws, the transaction count and size
  * and the 200 proposers are not derived from chain data.
  *
  * With `refetch = true` the fetcher serves the re-fetched payload of a
  * seeded share of slots: the same rows under the same keys, with a
  * different graffiti and withdrawal amounts, so its payload hash differs
  * and `latest()` must pick it.
  */
final case class ChainGen(seed: Long, refetch: Boolean = false) extends SlotFetcher {
  import ChainGen._

  private def draw(slot: Long, salt: Long, n: Int): Int =
    java.lang.Long.remainderUnsigned(mix(seed, slot, salt), n.toLong).toInt

  def isEmpty(slot: Long): Boolean = draw(slot, 1, 32) == 0
  def attestations(slot: Long): Int = if (isEmpty(slot)) 0 else 1 + draw(slot, 2, 8)
  def withdrawals(slot: Long): Int = if (isEmpty(slot)) 0 else draw(slot, 3, 9)
  def transactions(slot: Long): Int = if (isEmpty(slot)) 0 else draw(slot, 4, 13)
  def blobs(slot: Long): Int = if (isEmpty(slot)) 0 else draw(slot, 5, 3)
  def proposer(slot: Long): Long = draw(slot, 6, Proposers).toLong
  def isRefetched(slot: Long): Boolean =
    !isEmpty(slot) && draw(slot, 7, 1000) < RefetchPerMille
  /** Number of set sync-committee bits (popcount of the 64-byte field). */
  def participation(slot: Long): Int = 384 + draw(slot, 8, 129)

  def withdrawalAmount(slot: Long, i: Int, refetched: Boolean): Long =
    1000000L + draw(slot, 16 + i, 1000) + (if (refetched) RefetchAmountBump else 0L)

  def graffiti(refetched: Boolean): String =
    if (refetched) RefetchGraffiti else "0x" + "00" * 32

  def fetch(slot: Long): Option[String] =
    if (isEmpty(slot)) None else Some(payload(slot, refetch && isRefetched(slot)))

  def payload(slot: Long, refetched: Boolean): String = {
    val sb = new java.lang.StringBuilder(4096)
    val prev = slot - 1
    val h = java.lang.Long.toHexString(mix(seed, slot, 99))
    sb.append("""{"version":"electra","execution_optimistic":false,"finalized":true,"data":{"message":{"slot":"""")
      .append(slot).append("""","proposer_index":"""").append(proposer(slot))
      .append("""","parent_root":"0x""").append(pad(h, 64))
      .append("""","state_root":"0x""").append(pad(h.reverse, 64))
      .append("""","body":{"randao_reveal":"0x""").append("cc" * 96)
      .append("""","eth1_data":{"deposit_root":"0x""").append("dd" * 32)
      .append("""","deposit_count":"""").append(slot % 1000)
      .append("""","block_hash":"0x""").append("ee" * 32)
      .append(""""},"graffiti":"""").append(graffiti(refetched))
      .append("""","proposer_slashings":[],"attester_slashings":[],"attestations":[""")
    var i = 0
    while (i < attestations(slot)) {
      if (i > 0) sb.append(',')
      sb.append("""{"aggregation_bits":"0x""").append(pad(java.lang.Long.toHexString(mix(seed, slot, 200 + i)), 32))
        .append("""","data":{"slot":"""").append(prev).append("""","index":"""").append(i)
        .append("""","beacon_block_root":"0x""").append("ab" * 32)
        .append("""","source":{"epoch":"""").append(prev / 16 - 1).append("""","root":"0x""").append("cd" * 32)
        .append(""""},"target":{"epoch":"""").append(prev / 16).append("""","root":"0x""").append("ef" * 32)
        .append(""""}},"signature":"0x""").append("12" * 96).append("\"}")
      i += 1
    }
    sb.append("""],"deposits":[],"voluntary_exits":[],"sync_aggregate":{"sync_committee_bits":"0x""")
      .append(syncBits(participation(slot)))
      .append("""","sync_committee_signature":"0x""").append("ab" * 96)
      .append(""""},"execution_payload":{"parent_hash":"0x""").append("12" * 32)
      .append("""","fee_recipient":"0x""").append("34" * 20)
      .append("""","state_root":"0x""").append("56" * 32)
      .append("""","receipts_root":"0x""").append("78" * 32)
      .append("""","logs_bloom":"0x""").append("00" * 256)
      .append("""","prev_randao":"0x""").append("9a" * 32)
      .append("""","block_number":"""").append(slot - BaseSlot + 30000000L)
      .append("""","gas_limit":"17000000","gas_used":"""").append(21000L * (1 + transactions(slot)))
      .append("""","timestamp":"""").append(1638993340L + slot * 5)
      .append("""","extra_data":"0x","base_fee_per_gas":"7","block_hash":"0x""").append(pad(h, 64))
      .append("""","transactions":[""")
    i = 0
    while (i < transactions(slot)) {
      if (i > 0) sb.append(',')
      sb.append("\"0x02f8").append(pad(java.lang.Long.toHexString(mix(seed, slot, 300 + i)), 16))
        .append("ab" * 100).append('"')
      i += 1
    }
    sb.append("""],"withdrawals":[""")
    i = 0
    while (i < withdrawals(slot)) {
      if (i > 0) sb.append(',')
      sb.append("""{"index":"""").append(slot * 16 + i)
        .append("""","validator_index":"""").append(draw(slot, 400 + i, 100000))
        .append("""","address":"0x""").append("de" * 20)
        .append("""","amount":"""").append(withdrawalAmount(slot, i, refetched)).append("\"}")
      i += 1
    }
    sb.append("""],"blob_gas_used":"0","excess_blob_gas":"0"},"bls_to_execution_changes":[],"blob_kzg_commitments":[""")
    i = 0
    while (i < blobs(slot)) {
      if (i > 0) sb.append(',')
      sb.append("\"0x").append(pad(java.lang.Long.toHexString(mix(seed, slot, 500 + i)), 96)).append('"')
      i += 1
    }
    sb.append("""],"execution_requests":{"deposits":[],"withdrawals":[],"consolidations":[]}}},"signature":"0x""")
      .append("f0" * 96).append("\"}}")
    sb.toString
  }

  /** Closed-form row counts of one slot range, per table and in total. */
  def expected(start: Long, end: Long): Expected = {
    var e = Expected()
    var s = start
    while (s <= end) {
      if (!isEmpty(s)) {
        val w = withdrawals(s)
        var amount = 0L
        var i = 0
        while (i < w) { amount += withdrawalAmount(s, i, refetch && isRefetched(s)); i += 1 }
        e = e.copy(
          blocks = e.blocks + 1,
          attestations = e.attestations + attestations(s),
          withdrawals = e.withdrawals + w,
          transactions = e.transactions + transactions(s),
          blobCommitments = e.blobCommitments + blobs(s),
          withdrawalAmount = e.withdrawalAmount + amount,
          refetched = e.refetched + (if (isRefetched(s)) 1 else 0))
      }
      s += 1
    }
    e
  }
}

/** Expected rows of a slot range. Blocks, sync aggregates and execution
  * payloads each have one row per non-empty slot; deposits, exits,
  * slashings, BLS changes and execution requests have none. */
final case class Expected(
    blocks: Long = 0, attestations: Long = 0, withdrawals: Long = 0,
    transactions: Long = 0, blobCommitments: Long = 0,
    withdrawalAmount: Long = 0, refetched: Long = 0) {
  def syncAggregates: Long = blocks
  def executionPayloads: Long = blocks
  /** Rows the transform writes over all 13 tables — the progress ledger's
    * `processed_count` of the range. */
  def allTables: Long =
    3 * blocks + attestations + withdrawals + transactions + blobCommitments
}

object ChainGen {
  /** First slot of every generated chain: Electra era on Gnosis, a whole
    * month before the next month boundary for chains up to ~500k slots. */
  val BaseSlot = 22000000L
  val Proposers = 200
  /** Share of non-empty slots, in thousandths, that a re-fetch changes. */
  val RefetchPerMille = 100
  val RefetchGraffiti: String = "0x" + "ff" * 32
  val RefetchAmountBump = 7L

  /** splitmix64 finalizer over (seed, slot, salt). */
  def mix(seed: Long, slot: Long, salt: Long): Long = {
    var z = seed * 0x9E3779B97F4A7C15L + slot * 0xBF58476D1CE4E5B9L + salt * 0x94D049BB133111EBL
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  private def pad(hex: String, n: Int): String = {
    val sb = new StringBuilder(n)
    while (sb.length < n) sb.append(hex)
    sb.substring(0, n)
  }

  /** 64-byte sync-committee bitfield with exactly `ones` bits set. */
  def syncBits(ones: Int): String = {
    val full = ones / 8
    val rest = ones % 8
    val sb = new StringBuilder(128)
    var i = 0
    while (i < 64) {
      val byte = if (i < full) 0xff else if (i == full) (1 << rest) - 1 else 0
      sb.append(f"$byte%02x")
      i += 1
    }
    sb.toString
  }
}
