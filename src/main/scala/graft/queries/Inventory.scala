package graft.queries

import graft.core.Tables
import graft.core.Tables._
import graft.functions.GraftFunctions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, LongType}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The driver-checked operator inventory: every entry maps one operator
  * family from SURVEY.md §2 onto the testdata tables, with a DuckDB oracle
  * where the semantics are ANSI-SQL-expressible.
  *
  * Numeric-determinism policy: any SUM over a double column goes through
  * DECIMAL(18,2) (exact, order-independent) and is cast back to DOUBLE at
  * the end, so Spark's parallel partial aggregation and DuckDB's sequential
  * sum produce bit-identical results. Raw double columns are only ever
  * passed through untouched. Timestamps are only emitted at day/hour
  * granularity (testdata `ts` is nanosecond-precision; Spark truncates to
  * micros on read).
  */
object Inventory {

  /** Exact decimal sum of a double column, surfaced as DOUBLE. */
  private def dsum(c: org.apache.spark.sql.Column) =
    sum(c.cast(DecimalType(18, 2))).cast("double")

  /** `events.ts` as a Spark timestamp, whatever the parquet physical
    * type: nanosecond-epoch LONG data (Spark has no nanos timestamp;
    * `spark.sql.legacy.parquet.nanosAsLong=true`) converts via integer
    * `div` — not `/` — so the 1e18-scale value never round-trips through
    * a double; micro/millisecond TIMESTAMP data is used as-is. */
  private def eventTs(ev: DataFrame) = ev.schema("ts").dataType match {
    case org.apache.spark.sql.types.LongType => timestamp_micros(expr("ts div 1000"))
    case _ => col("ts")
  }

  type Q = (SparkSession, String) => DataFrame

  // ---------------------------------------------------------------------
  // §2.4 Filters / predicates / dedup
  // ---------------------------------------------------------------------

  /** F1: slot-range predicate (transformer chunk reads). Pushed to parquet. */
  val f1RangeScan: Q = (s, d) =>
    events(s, d)
      .filter(col("event_id").between(100, 400))
      .select("event_id", "event_type", "value")

  /** F2/W1: latest-payload-per-key window dedup — the engine-wide
    * ReplacingMergeTree-FINAL equivalent (reference:
    * src/services/transformer.py:356-367). */
  val f2LatestPerKey: Q = (s, d) => {
    val w = Window.partitionBy("user_id").orderBy(col("ts").desc, col("event_id").desc)
    events(s, d)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select("user_id", "event_id", "event_type")
  }

  /** F4/A8: distinct projection (payload-hash dedup shape). */
  val f4DistinctPairs: Q = (s, d) =>
    events(s, d).select("user_id", "event_type").distinct()

  /** F5: fork-gate filter (skip slots before activation). */
  val f5ForkGate: Q = (s, d) =>
    events(s, d)
      .filter(col("event_id") >= 500 && col("event_type") === "purchase")
      .select("event_id", "user_id")

  /** F6/C11: last-slot-of-day boundary detection — the reference's
    * `is_last_slot_of_day` (src/utils/time_utils.py:10-28) is a pure
    * function of the slot clock, so the boundary is a PER-ROW closed form
    * (date(ts(id)) ≠ date(ts(id+1))), not a LEAD over a global window.
    * A global unpartitioned window would funnel the whole table through
    * one task; this form is embarrassingly parallel and the predicate
    * stays inside whole-stage codegen. 300s/slot spreads the sf0.01 id
    * range over ~35 UTC days. */
  val f6LastOfDay: Q = (s, d) => {
    val clock = graft.beacon.ChainConfig.gnosis.copy(secondsPerSlot = 300L)
    events(s, d)
      .filter(clock.isLastSlotOfDay(col("event_id")))
      .select(
        col("event_id"),
        date_format(clock.slotTimestamp(col("event_id")), "yyyy-MM-dd").as("day"))
  }

  /** F7: status/IN-list filter + count (ledger status queries). */
  val f7StatusFilter: Q = (s, d) =>
    events(s, d)
      .filter(col("event_type").isin("error", "signup"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"))

  // ---------------------------------------------------------------------
  // §2.5 Joins
  // ---------------------------------------------------------------------

  /** J1/J2: untransformed-chunk discovery = left anti join
    * (reference: src/services/transformer.py:240-268). */
  val j1AntiJoin: Q = (s, d) =>
    customer(s, d)
      .join(orders(s, d), col("c_custkey") === col("o_custkey"), "left_anti")
      .select("c_custkey", "c_name")

  /** J3: gap detection — generated sequence anti-joined against observed
    * keys (reference: scripts/maintenance.py:127-146). */
  val j3GapDetection: Q = (s, d) => {
    val ev = events(s, d)
    val maxRow = ev.agg(max("user_id")).head()
    // empty events: no candidate ids, no gaps (a bare getLong would NPE)
    val maxUser = if (maxRow.isNullAt(0)) -1L else maxRow.getLong(0)
    s.range(0, maxUser + 1)
      .toDF("user_id")
      .join(
        ev.filter(col("event_type") === "purchase"),
        Seq("user_id"),
        "left_anti")
      .select("user_id")
  }

  /** J4: fact ⋈ broadcast dim + aggregation (docs analytics). The dim side
    * is explicitly broadcast: at 100 TB the orders fact never shuffles. */
  val j4JoinAggBroadcast: Q = (s, d) =>
    orders(s, d)
      .join(broadcast(customer(s, d)), col("o_custkey") === col("c_custkey"))
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("revenue"))

  /** J5: equi join + daily rollup (blocks ⋈ withdrawals shape). */
  val j5DailyRollupJoin: Q = (s, d) =>
    lineitem(s, d)
      .join(orders(s, d), col("l_orderkey") === col("o_orderkey"))
      .groupBy(date_format(col("o_orderdate"), "yyyy-MM-dd").as("day"))
      .agg(count(lit(1)).as("n_items"), dsum(col("l_quantity")).as("qty"))

  /** J6/X1: day-over-day EXCEPT diff (pending-queue applied entries;
    * reference: docs/pending-queues.md:113-128). */
  val j6ExceptDiff: Q = (s, d) => {
    val ev = events(s, d)
    val day1 = ev.filter(to_date(eventTs(ev)) === lit("2024-01-01").cast("date"))
      .select("user_id").distinct()
    val day2 = ev.filter(to_date(eventTs(ev)) === lit("2024-01-02").cast("date"))
      .select("user_id").distinct()
    day1.except(day2)
  }

  // ---------------------------------------------------------------------
  // §2.6 Aggregations
  // ---------------------------------------------------------------------

  /** A1: chunk-overview conditional aggregation (count + countIf;
    * reference: src/services/clickhouse.py:266-284). */
  val a1ConditionalAgg: Q = (s, d) =>
    events(s, d)
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n"),
        sum(when(col("value") > 100, 1).otherwise(0)).as("n_high"),
        sum(when(col("value") <= 100, 1).otherwise(0)).as("n_low"),
        min("event_id").as("min_id"),
        max("event_id").as("max_id"))

  /** A2 + flagship: TPC-H-Q1-shaped two-key aggregate with derived
    * measures; map-side partial agg then single shuffle on the group keys. */
  val a2PricingSummary: Q = (s, d) =>
    lineitem(s, d)
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_base"),
        sum(
          col("l_extendedprice").cast(DecimalType(18, 2)) *
            (lit(1).cast(DecimalType(18, 2)) - col("l_discount").cast(DecimalType(18, 2))))
          .cast("double").as("sum_disc_price"),
        count(lit(1)).as("n"))

  /** A4: gap stats — min/max/exact distinct (reference:
    * scripts/maintenance.py:95-125). At 100 TB `countDistinct` becomes
    * `approx_count_distinct`; exact kept here for oracle parity. */
  val a4MinMaxDistinct: Q = (s, d) =>
    events(s, d).agg(
      min("event_id").as("min_id"),
      max("event_id").as("max_id"),
      countDistinct("user_id").as("n_users"),
      count(lit(1)).as("n"))

  /** A5: max-slot probe per loader (resume point). */
  val a5MaxProbe: Q = (s, d) =>
    events(s, d).groupBy("event_type").agg(max("event_id").as("max_id"))

  /** A7a: hourly time-bucket rollup (toStartOfHour analytics). */
  val a7HourlyRollup: Q = (s, d) => {
    val ev = events(s, d)
    ev.groupBy(date_format(date_trunc("hour", eventTs(ev)), "yyyy-MM-dd HH:mm:ss").as("h"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("v"))
  }

  /** A7b: top-proposers HAVING shape (docs: CLICKHOUSE_GUIDE.md:282-295). */
  val a7TopUsersHaving: Q = (s, d) =>
    events(s, d)
      .filter(col("event_type") === "purchase")
      .groupBy("user_id")
      .agg(count(lit(1)).as("n"))
      .filter(col("n") >= 5)

  /** A8: distinct single-column projection (existing-chunk cache). */
  val a8DistinctPriorities: Q = (s, d) =>
    orders(s, d).select("o_orderpriority").distinct()

  // ---------------------------------------------------------------------
  // §2.7 Windows, sorts, limits, set ops
  // ---------------------------------------------------------------------

  /** W1: latest-props-per-user window dedup (payload variant of F2). */
  val w1LatestProps: Q = (s, d) => {
    val w = Window.partitionBy("user_id").orderBy(col("ts").desc, col("event_id").desc)
    events(s, d)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select("user_id", "props")
  }

  /** W2: deterministic work sharding rn%workers (reference:
    * src/services/clickhouse.py:137-152). */
  val w2WorkSharding: Q = (s, d) => {
    val w = Window.partitionBy("event_type").orderBy("event_id")
    events(s, d)
      .withColumn("shard", (row_number().over(w) - 1) % 4)
      .filter(col("shard") === 0)
      .select("event_id")
  }

  /** O1: ORDER BY … LIMIT top-k (TakeOrderedAndProject — no full sort). */
  val o1TopK: Q = (s, d) =>
    events(s, d)
      .orderBy(col("value").desc, col("event_id").asc)
      .limit(10)
      .select("event_id", "value")

  /** O2: multi-key sort + limit. */
  val o2MultiKeySort: Q = (s, d) =>
    events(s, d)
      .orderBy(col("event_type").asc, col("event_id").asc)
      .limit(100)
      .select("event_type", "event_id")

  /** X2: UNION ALL of per-table stats (monitoring). */
  val x2UnionStats: Q = (s, d) => {
    def stat(name: String, df: DataFrame) =
      df.agg(count(lit(1)).as("n")).select(lit(name).as("tbl"), col("n"))
    stat("orders", orders(s, d))
      .unionByName(stat("lineitem", lineitem(s, d)))
      .unionByName(stat("customer", customer(s, d)))
  }

  /** X3: INTERSECT — users active on BOTH days (the set-op family's third
    * member next to j6's EXCEPT and x2's UNION). */
  val x3Intersect: Q = (s, d) => {
    val ev = events(s, d)
    val day1 = ev.filter(to_date(eventTs(ev)) === lit("2024-01-01").cast("date"))
      .select("user_id").distinct()
    val day2 = ev.filter(to_date(eventTs(ev)) === lit("2024-01-02").cast("date"))
      .select("user_id").distinct()
    day1.intersect(day2)
  }

  /** A10: ROLLUP super-aggregates — per-(type, priority) order counts with
    * per-type and grand totals in one pass (the ClickHouse WITH ROLLUP
    * monitoring shape). Exact ints; NULL group keys mark the totals. */
  val a10Rollup: Q = (s, d) =>
    orders(s, d)
      .rollup(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), min("o_orderkey").as("min_key"))

  /** W3: lag window — per-user inter-event gaps in whole seconds (exact
    * long arithmetic on epoch seconds; first event per user has no
    * predecessor → NULL gap). */
  val w3EventDeltas: Q = (s, d) => {
    val ev = events(s, d)
    val sec = unix_timestamp(eventTs(ev))
    val w = Window.partitionBy("user_id").orderBy(col("ts").asc, col("event_id").asc)
    ev.select(
      col("user_id"), col("event_id"),
      (sec - lag(sec, 1).over(w)).as("gap_s"))
  }

  /** A27: EXACT isotonic regression ([[graft.operators.Isotonic
    * .isotonicFit]], pool-adjacent-violators) — the score-calibration
    * primitive: the L2-optimal MONOTONE fit of value against a bucketed
    * score. Every pooling decision is an integer cross-multiplication
    * over (Σcents, Σcnt) rationals; the oracle replays the fit through
    * PAV's minimax characterization `f(i) = max_{j≤i} min_{k≥i}
    * avg(j..k)` over pooled prefix sums — two completely different
    * algorithms, one exact answer, so the hash gate is a real
    * cross-check rather than a mirror. */
  val a27IsotonicFit: Q = (s, d) => {
    val ev = events(s, d)
    graft.operators.Isotonic.isotonicFit(
      ev.select((col("event_id") % 100).as("score"),
        round(col("value") * 100).cast("long").as("cents")),
      "score", "cents")
  }

  /** W12: per-user TIME-WEIGHTED average value (TWAP) over irregular
    * event samples — the canonical "average that respects holding time"
    * (price exposure, feature-freshness dashboards): each sample's value
    * holds until the NEXT sample (LOCF semantics), weight = the exact
    * µs interval, the last sample holds nothing. Exactness: the value is
    * 2-decimal money, so the numerator accumulates EXACTLY in
    * DECIMAL(38,0) cents·µs and is narrowed to BIGINT behind a loud
    * `assert_true` overflow guard before the divide (a raw BIGINT sum
    * was the original shape and wraps silently past 2^63 — e.g.
    * 5-digit-dollar values over a ~10-year span; the narrowing keeps
    * the final float steps the identical IEEE pair both engines
    * perform — long→double, ×100, one divide — because DuckDB's direct
    * int128-decimal→double cast rounds TWICE and loses the last ulp).
    * The window orders by the SAME µs expression the oracle orders by
    * (ts is nanosecond-resolution on the long-typed path; ordering by
    * raw ts would break µs ties differently across engines). One
    * user_id exchange; both the lead() window and the groupBy reuse
    * it. */
  val w12Twap: Q = (s, d) => twapOf(events(s, d))

  /** The w12 computation over any events-shaped frame (user_id,
    * event_id, ts, value) — factored so the overflow guard is unit-
    * testable on a planted wide frame. */
  private[graft] def twapOf(ev: DataFrame): DataFrame = {
    val us = unix_micros(eventTs(ev).cast("timestamp"))
    val w = Window.partitionBy("user_id").orderBy(us.asc, col("event_id").asc)
    val cents = round(col("value") * 100).cast("long")
    val numOk = abs(col("__numc")) <= lit(Long.MaxValue).cast(DecimalType(38, 0))
    ev.select(col("user_id"), cents.as("__cents"),
      (lead(us, 1).over(w) - us).as("__dt"))
      .filter(col("__dt").isNotNull)
      .groupBy("user_id")
      .agg(
        sum(col("__cents").cast(DecimalType(38, 0)) * col("__dt")).as("__numc"),
        sum(col("__dt")).as("den_us"),
        count(lit(1)).as("n_intervals"))
      .select(col("user_id"), col("n_intervals"), col("den_us"),
        ((col("__numc") + coalesce(assert_true(numOk,
            lit("w12 TWAP numerator exceeds BIGINT: cents*span_us past 2^63")),
          lit(0))).cast("long").cast("double") /
          (col("den_us").cast("double") * lit(100.0))).as("twap"))
  }

  // ---------------------------------------------------------------------
  // §2.8 Scalar pack
  // ---------------------------------------------------------------------

  /** C1: hex-aware safe_int — custom codegen expression; round-trips
    * event_id through a hex string. Oracle is the identity. */
  val c1SafeLongHex: Q = (s, d) =>
    events(s, d)
      .select(
        col("event_id"),
        safe_long(concat(lit("0x"), hex(col("event_id")))).as("parsed"))

  /** C3: canonical-JSON payload hash (sorted keys, ensure_ascii) — custom
    * expression; first 16 hex of sha256. The Jackson parse is the one
    * genuinely CPU-heavy per-row op in the inventory and a small input
    * arrives as ONE parquet partition — fan out before computing (at
    * 100 TB real files split on maxPartitionBytes and the exchange is
    * narrow noise next to the parse). */
  val c3PayloadHash: Q = (s, d) =>
    events(s, d)
      .repartition(s.sparkContext.defaultParallelism)
      .select(col("event_id"), payload_hash16(col("props")).as("h"))

  /** C4: popcount — built-in bit_count plus the custom hex_popcount
    * expression over the hex rendering (must agree). */
  val c4Popcount: Q = (s, d) =>
    events(s, d)
      .filter(col("event_id") < 1000)
      .select(
        col("event_id"),
        bit_count(col("event_id")).cast("int").as("pc"),
        hex_popcount(concat(lit("0x"), hex(col("event_id")))).as("pc2"))

  /** C5: hex byte length — custom codegen expression over the hex
    * rendering; oracle recomputes `len(hex)//2` directly. */
  val c5HexByteLength: Q = (s, d) =>
    events(s, d)
      .filter(col("event_id") < 2000)
      .select(
        col("event_id"),
        hex_byte_length(hex(col("event_id"))).as("n_bytes"))

  /** J7: driver-side crossJoin of two 1-row frames (time_helpers compose
    * shape; reference: src/loaders/specs.py:53-78). */
  val j7CrossOneRow: Q = (s, d) =>
    region(s, d).agg(count(lit(1)).as("n_regions"))
      .crossJoin(nation(s, d).agg(count(lit(1)).as("n_nations")))

  /** C8: slot → timestamp (genesis + slot*seconds_per_slot). */
  val c8SlotTimestamp: Q = (s, d) =>
    events(s, d)
      .filter(col("event_id") < 500)
      .select(
        col("event_id").as("slot"),
        date_format(slot_timestamp(col("event_id"), 1638993340L, 5L),
          "yyyy-MM-dd HH:mm:ss").as("slot_ts"))

  /** C9: slot → epoch rollup. */
  val c9EpochRollup: Q = (s, d) =>
    events(s, d)
      .groupBy(floor(col("event_id") / 16).cast(LongType).as("epoch"))
      .agg(count(lit(1)).as("n"))

  /** C14: ad-hoc JSON field probe (JSONExtractString fork sampling;
    * reference: src/services/fork.py:292-300). */
  /** C17: Levenshtein edit distance (the built-in both engines define
    * identically — unit-cost insert/delete/substitute) between each
    * document's first two 20-char windows, plus the bounded variant
    * (threshold 5, -1 past it) that at scale turns the O(n·m) fill into
    * an O(n·k) band — the fuzzy-match primitive under t37's
    * deletion-neighborhood join, surfaced directly. */
  val c17EditDistance: Q = (s, d) =>
    documents(s, d)
      .filter(col("doc_id") < 500)
      .select(col("doc_id"),
        substring(col("text"), 1, 20).as("a"),
        substring(col("text"), 21, 20).as("b"))
      .select(col("doc_id"),
        levenshtein(col("a"), col("b")).as("dist"),
        levenshtein(col("a"), col("b"), 5).as("dist_capped"))

  /** C18: the date-arithmetic function pack — add_months (month-end
    * clamping), datediff, last_day, month truncation, quarter, and
    * Monday-0 weekday, each against its DuckDB twin (dialects disagree
    * on weekday origins — Spark `weekday` is Monday-0, DuckDB `isodow`
    * is Monday-1 — so the oracle maps explicitly; dates surface as
    * formatted strings, the c8 timezone-free convention). */
  val c18DateArith: Q = (s, d) =>
    orders(s, d)
      .filter(col("o_orderkey") < 2000)
      .select(col("o_orderkey"),
        date_format(add_months(col("o_orderdate"), 3), "yyyy-MM-dd").as("plus3m"),
        datediff(lit("2000-01-01").cast("date"), col("o_orderdate"))
          .cast("int").as("days_to_2000"),
        date_format(last_day(col("o_orderdate")), "yyyy-MM-dd").as("month_end"),
        date_format(trunc(col("o_orderdate"), "month"), "yyyy-MM-dd").as("month_start"),
        quarter(col("o_orderdate")).cast("int").as("q"),
        weekday(col("o_orderdate")).cast("int").as("wd"))

  val c14JsonProbe: Q = (s, d) =>
    events(s, d)
      .filter(col("event_id") < 500)
      .select(
        col("event_id"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))

  // ---------------------------------------------------------------------
  // §2.10 Dataflow shapes + §2.3 parse shapes on testdata
  // ---------------------------------------------------------------------

  /** D1/R3: chunk planning — tumbling slot windows aligned to CHUNK_SIZE
    * (reference: src/services/loader.py:487-758). */
  val d1ChunkPlan: Q = (s, d) =>
    events(s, d)
      .groupBy((col("event_id") / 100).cast(LongType).as("chunk_id"))
      .agg(
        min("event_id").as("start_id"),
        max("event_id").as("end_id"),
        count(lit(1)).as("n"))

  /** P1: the FLAGSHIP block parser end-to-end through the real
    * `from_json` maximal-schema pass ([[graft.beacon.BlockParser.blocks]],
    * reference: src/parsers/fork_base.py:86-139): raw block JSON payloads
    * are synthesized from `events` closed forms (header fields, eth1
    * data, hex sync-committee bits, variable-length withdrawal /
    * blob-commitment / execution-request arrays), parsed by the
    * PRODUCTION parser — derived counts, hex popcount participation, and
    * the constant-folded gnosis fork-version CASE over slots spanning all
    * seven forks — while the DuckDB oracle recomputes every output column
    * from the same closed forms WITHOUT parsing JSON: the only path from
    * formula to matched value goes through the real parse. */
  val p1Blocks: Q = (s, d) => {
    val cfg = graft.beacon.ChainConfig.gnosis
    val e = col("event_id")
    val es = e.cast("string")
    val hx = concat(lit("0x"), hex(e))
    def arrOf(n: org.apache.spark.sql.Column, elems: Seq[String]) =
      element_at(array(elems.map(lit): _*), (n + 1).cast("int"))
    val wArr = arrOf(pmod(e, lit(4)), Seq("[]", "[{}]", "[{},{}]", "[{},{},{}]"))
    val kArr = arrOf(pmod(e, lit(3)), Seq("[]", "[\"0xk1\"]", "[\"0xk1\",\"0xk2\"]"))
    val dArr = arrOf(pmod(e, lit(2)), Seq("[]", "[{}]"))
    val cArr = arrOf(pmod(e, lit(3)), Seq("[]", "[{}]", "[{},{}]"))
    val payload = concat(
      lit("""{"data":{"message":{"proposer_index":""""), es,
      lit("""","parent_root":""""), hx,
      lit("""","state_root":"0xs"""), es,
      lit("""","body":{"randao_reveal":"0xr"""), es,
      lit("""","graffiti":"g"""), es,
      lit("""","eth1_data":{"deposit_root":"0xd"""), es,
      lit("""","deposit_count":""""), (e * 3).cast("string"),
      lit("""","block_hash":"0xb"""), es,
      lit(""""},"sync_aggregate":{"sync_committee_bits":""""), hx,
      lit(""""},"execution_payload":{"withdrawals":"""), wArr,
      lit("""},"blob_kzg_commitments":"""), kArr,
      lit(""","execution_requests":{"deposits":"""), dArr,
      lit(""","withdrawals":"""), wArr,
      lit(""","consolidations":"""), cArr,
      lit("""}}},"signature":"0xsig"""), es,
      lit(""""}}"""))
    val raw = events(s, d)
      .filter(col("event_id") < 3000)
      // fan the single-file fixture slice across cores before the heavy
      // per-row JSON synthesis + production from_json parse (bench fixture
      // shaping: production chunks arrive as many files and parse where read)
      .repartition(s.sparkContext.defaultParallelism)
      .select((e * 10000L).as("slot"), payload.as("payload"))
    graft.beacon.BlockParser.blocks(graft.beacon.BlockParser.withParsed(raw), cfg)
  }

  /** P3: the deposits parser end-to-end ([[graft.beacon.BlockParser
    * .deposits]], reference: src/parsers/phase0.py) in the hard gate —
    * the p1 pattern extended to a VALUE-BEARING repeated section:
    * variable-length `body.deposits` arrays (0–2 entries, every field a
    * closed form of event_id and the entry index, first entry carrying
    * a merkle proof) synthesized as JSON, pushed through the PRODUCTION
    * from_json + posexplode + safe_long path, and recomputed by the
    * oracle without parsing any JSON. The proof array surfaces as
    * (len, first) scalars — engine-portable where a raw list column's
    * pandas rendering is not. */
  val p3Deposits: Q = (s, d) => {
    val e = col("event_id")
    val es = e.cast("string")
    def entry(j: Int) = concat(
      lit("""{"proof":["0xa"""), es, lit(s"_$j"),
      lit(""""],"data":{"pubkey":"0xp"""), es, lit(s"_$j"),
      lit("""","withdrawal_credentials":"0xw"""), es,
      lit("""","amount":""""), (e * 7 + j).cast("string"),
      lit("""","signature":"0xsg"""), es,
      lit(""""}}"""))
    val depositsArr =
      when(pmod(e, lit(3)) === 0, lit("[]"))
        .when(pmod(e, lit(3)) === 1, concat(lit("["), entry(0), lit("]")))
        .otherwise(concat(lit("["), entry(0), lit(","), entry(1), lit("]")))
    val payload = concat(
      lit("""{"data":{"message":{"body":{"deposits":"""),
      depositsArr, lit("""}}}}"""))
    val raw = events(s, d)
      .filter(col("event_id") < 3000)
      // fan the single-file fixture slice across cores before the heavy
      // per-row JSON synthesis + production from_json parse (bench fixture
      // shaping: production chunks arrive as many files and parse where read)
      .repartition(s.sparkContext.defaultParallelism)
      .select((e * 10000L).as("slot"), payload.as("payload"))
    graft.beacon.BlockParser.deposits(graft.beacon.BlockParser.withParsed(raw))
      .select(col("slot"), col("deposit_index"), col("pubkey"),
        col("withdrawal_credentials"), col("amount"), col("signature"),
        size(col("proof")).cast("long").as("proof_len"),
        element_at(col("proof"), 1).as("proof_first"))
  }

  /** P2 (real parser): [[graft.beacon.BlockParser.attestations]]
    * end-to-end (reference: src/parsers/fork_base.py:163-186) — the
    * richest per-block table. Variable-length attestation lists (0–2
    * entries) synthesized as JSON closed forms of event_id, INCLUDING the
    * missing-`data.slot` fallback on entry index 1 (the reference's
    * `safe_int(att_data.get("slot", slot), slot)` — the parsed
    * attestation_slot must fall back to the BLOCK slot, not 0/null), and
    * the checkpoint flattening (source/target epoch+root). The oracle
    * recomputes every column arithmetically — no JSON in DuckDB. */
  val p2Attestations: Q = (s, d) => {
    val e = col("event_id")
    val es = e.cast("string")
    // every value a closed form of event_id; entry 1 OMITS data.slot
    def entry(j: Int) = {
      val slotField: org.apache.spark.sql.Column =
        if (j == 1) lit("")
        else concat(lit(""""slot":""""), (e * 32 + j).cast("string"), lit("\","))
      concat(
        lit("""{"aggregation_bits":"0x"""), es,
        lit("""","signature":"0xs"""), es, lit(s"_$j"),
        lit("""","data":{"""), slotField,
        lit(""""index":""""), lit(j.toString),
        lit("""","beacon_block_root":"0xb"""), es,
        lit("""","source":{"epoch":""""), (e + j).cast("string"),
        lit("""","root":"0xsr"""), lit(j.toString),
        lit(""""},"target":{"epoch":""""), (e + j + 1).cast("string"),
        lit("""","root":"0xtr"""), lit(j.toString),
        lit(""""}}}"""))
    }
    val atts =
      when(pmod(e, lit(3)) === 0, lit("[]"))
        .when(pmod(e, lit(3)) === 1, concat(lit("["), entry(0), lit("]")))
        .otherwise(concat(lit("["), entry(0), lit(","), entry(1), lit("]")))
    val payload = concat(
      lit("""{"data":{"message":{"body":{"attestations":"""),
      atts, lit("""}}}}"""))
    val raw = events(s, d)
      .filter(col("event_id") < 3000)
      // fan the single-file fixture slice across cores before the heavy
      // per-row JSON synthesis + production from_json parse (bench fixture
      // shaping: production chunks arrive as many files and parse where read)
      .repartition(s.sparkContext.defaultParallelism)
      .select((e * 10000L).as("slot"), payload.as("payload"))
    graft.beacon.BlockParser.attestations(graft.beacon.BlockParser.withParsed(raw))
  }

  /** P6 (real parser): [[graft.beacon.BlockParser.attesterSlashings]]
    * end-to-end (reference: src/parsers/phase0.py:87-190) — the most
    * intricate projection in the reference: two indexed attestations per
    * slashing, the attesting_indices LIST-OR-CSV-STRING variant (entry
    * with even event_id carries `"i0, i1"` as a scalar string — the
    * gated second from_json + split + trim path must recover it), and
    * the derived counts: per-attestation validator_count and the
    * DISTINCT-UNION total (indices overlap by one → 2 + 2 → 3). Arrays
    * surface as (count, first) scalars for engine-portable compare. */
  val p6AttesterSlashings: Q = (s, d) => {
    val e = col("event_id")
    val es = e.cast("string")
    val i0 = pmod(e, lit(7))
    def attData = concat(
      lit(""""data":{"slot":""""), es,
      lit("""","index":"0","beacon_block_root":"0xb"""), es,
      lit("""","source":{"epoch":""""), es,
      lit("""","root":"0xsr"},"target":{"epoch":""""), (e + 1).cast("string"),
      lit("""","root":"0xtr"}}"""))
    // attestation_1: CSV-string indices on even event_id (with a space
    // after the comma — the trim path), JSON array otherwise
    val a1Idx = when(pmod(e, lit(2)) === 0,
      concat(lit("\""), i0.cast("string"), lit(", "),
        (i0 + 1).cast("string"), lit("\"")))
      .otherwise(concat(lit("""[""""), i0.cast("string"), lit("""",""""),
        (i0 + 1).cast("string"), lit(""""]""")))
    val a2Idx = concat(lit("""[""""), (i0 + 1).cast("string"), lit("""",""""),
      (i0 + 2).cast("string"), lit(""""]"""))
    val slashing = concat(
      lit("""{"attestation_1":{"attesting_indices":"""), a1Idx, lit(","),
      attData, lit(""","signature":"0xa1_"""), es, lit("\"},"),
      lit(""""attestation_2":{"attesting_indices":"""), a2Idx, lit(","),
      attData, lit(""","signature":"0xa2_"""), es, lit("\"}}"))
    val arr = when(pmod(e, lit(3)) === 0, lit("[]"))
      .otherwise(concat(lit("["), slashing, lit("]")))
    val payload = concat(
      lit("""{"data":{"message":{"body":{"attester_slashings":"""),
      arr, lit("""}}}}"""))
    val raw = events(s, d)
      .filter(col("event_id") < 3000)
      // fan the single-file fixture slice across cores before the heavy
      // per-row JSON synthesis + production from_json parse (bench fixture
      // shaping: production chunks arrive as many files and parse where read)
      .repartition(s.sparkContext.defaultParallelism)
      .select((e * 10000L).as("slot"), payload.as("payload"))
    graft.beacon.BlockParser
      .attesterSlashings(graft.beacon.BlockParser.withParsed(raw))
      .select(col("slot"), col("slashing_index"),
        col("att_1_slot"), col("att_1_source_epoch"), col("att_1_target_epoch"),
        col("att_1_signature"), col("att_2_signature"),
        element_at(col("att_1_attesting_indices"), 1).as("att_1_first_idx"),
        element_at(col("att_2_attesting_indices"), 1).as("att_2_first_idx"),
        col("att_1_validator_count"), col("att_2_validator_count"),
        col("total_slashed_validators"))
  }

  /** P7 (real parser): [[graft.beacon.BlockParser.syncAggregates]]
    * end-to-end (reference: src/parsers/altair.py:15-60) — the
    * popcount-bearing projection: sync_committee_bits hex → participation
    * via the c4 `hex_popcount` kernel (here provably equal to
    * bit_count(event_id) because the bits ARE hex(event_id)), plus the
    * Altair null-gate: every 5th payload omits sync_aggregate entirely
    * and must NOT emit a row (pre-Altair forks). */
  val p7SyncAggregates: Q = (s, d) => {
    val e = col("event_id")
    val es = e.cast("string")
    val payload = when(pmod(e, lit(5)) === 0,
      lit("""{"data":{"message":{"body":{}}}}"""))
      .otherwise(concat(
        lit("""{"data":{"message":{"body":{"sync_aggregate":{"sync_committee_bits":"0x"""),
        hex(e),
        lit("""","sync_committee_signature":"0xsig"""), es,
        lit(""""}}}}}""")))
    val raw = events(s, d).filter(e < 3000)
      // fan the single-file fixture slice across cores before the heavy
      // per-row JSON synthesis + production from_json parse (bench fixture
      // shaping: production chunks arrive as many files and parse where read)
      .repartition(s.sparkContext.defaultParallelism)
      .select((e * 10000L).as("slot"), payload.as("payload"))
    graft.beacon.BlockParser.syncAggregates(graft.beacon.BlockParser.withParsed(raw))
  }

  /** P10 (real parser): [[graft.beacon.BlockParser.withdrawals]]
    * end-to-end (reference: src/parsers/capella.py:22-43) — the
    * block-context-onto-every-row shape: execution_payload's
    * block_number/block_hash replicate onto each exploded withdrawal,
    * every numeric through safe_long. Variable arity 0–2 via the p3
    * pattern. */
  val p10Withdrawals: Q = (s, d) => {
    val e = col("event_id")
    val es = e.cast("string")
    def entry(j: Int) = concat(
      lit("""{"index":""""), (e * 10 + j).cast("string"),
      lit("""","validator_index":""""), (e + j).cast("string"),
      lit("""","address":"0xad"""), es, lit(s"_$j"),
      lit("""","amount":""""), (e * 100 + j).cast("string"),
      lit(""""}"""))
    val wArr = when(pmod(e, lit(3)) === 0, lit("[]"))
      .when(pmod(e, lit(3)) === 1, concat(lit("["), entry(0), lit("]")))
      .otherwise(concat(lit("["), entry(0), lit(","), entry(1), lit("]")))
    val payload = concat(
      lit("""{"data":{"message":{"body":{"execution_payload":{"block_number":""""),
      (e * 2).cast("string"),
      lit("""","block_hash":"0xbh"""), es,
      lit("""","withdrawals":"""), wArr, lit("""}}}}}"""))
    val raw = events(s, d).filter(e < 3000)
      // fan the single-file fixture slice across cores before the heavy
      // per-row JSON synthesis + production from_json parse (bench fixture
      // shaping: production chunks arrive as many files and parse where read)
      .repartition(s.sparkContext.defaultParallelism)
      .select((e * 10000L).as("slot"), payload.as("payload"))
    graft.beacon.BlockParser.withdrawals(graft.beacon.BlockParser.withParsed(raw))
  }

  /** P9 (real parser): [[graft.beacon.BlockParser.transactions]]
    * end-to-end minus the one non-mirrorable column (reference:
    * src/parsers/bellatrix.py:60-96) — the raw-tx posexplode with the
    * block-level execution-payload columns broadcast onto every row.
    * `transaction_hash` is the documented xxhash64 placeholder with no
    * DuckDB twin, so it is dropped HERE (not in the parser): everything
    * else — explode order, the six payload columns, the empty
    * RLP-decode defaults — rides the hard hash gate. */
  val p9Transactions: Q = (s, d) => {
    val e = col("event_id")
    val es = e.cast("string")
    def tx(j: Int) = concat(lit("\"0xtx"), es, lit(s"_$j\""))
    val txArr = when(pmod(e, lit(3)) === 0, lit("[]"))
      .when(pmod(e, lit(3)) === 1, concat(lit("["), tx(0), lit("]")))
      .otherwise(concat(lit("["), tx(0), lit(","), tx(1), lit("]")))
    val payload = concat(
      lit("""{"data":{"message":{"body":{"execution_payload":{"block_number":""""),
      (e * 2).cast("string"),
      lit("""","block_hash":"0xbh"""), es,
      lit("""","fee_recipient":"0xfr"""), es,
      lit("""","gas_limit":""""), (e * 30).cast("string"),
      lit("""","gas_used":""""), (e * 21).cast("string"),
      lit("""","base_fee_per_gas":""""), (e + 7).cast("string"),
      lit("""","transactions":"""), txArr, lit("""}}}}}"""))
    val raw = events(s, d).filter(e < 3000)
      // fan the single-file fixture slice across cores before the heavy
      // per-row JSON synthesis + production from_json parse (bench fixture
      // shaping: production chunks arrive as many files and parse where read)
      .repartition(s.sparkContext.defaultParallelism)
      .select((e * 10000L).as("slot"), payload.as("payload"))
    graft.beacon.BlockParser
      .transactions(graft.beacon.BlockParser.withParsed(raw))
      .drop("transaction_hash")
  }

  /** P5 (real parser): [[graft.beacon.BlockParser.proposerSlashings]]
    * end-to-end (reference: src/parsers/phase0.py:61-85) — the
    * two-signed-headers flatten: 12 columns from two nested header
    * structs per slashing, each field a closed form. */
  val p5ProposerSlashings: Q = (s, d) => {
    val e = col("event_id")
    val es = e.cast("string")
    def header(k: Int) = concat(
      lit("""{"message":{"slot":""""), (e + k).cast("string"),
      lit("""","proposer_index":""""), es,
      lit("""","parent_root":"0xpr"""), lit(k.toString), lit("_"), es,
      lit("""","state_root":"0xst"""), lit(k.toString), lit("_"), es,
      lit("""","body_root":"0xbr"""), lit(k.toString), lit("_"), es,
      lit(""""},"signature":"0xhs"""), lit(k.toString), lit("_"), es,
      lit(""""}"""))
    val slashing = concat(
      lit("""{"signed_header_1":"""), header(1),
      lit(""","signed_header_2":"""), header(2), lit("}"))
    val arr = when(pmod(e, lit(4)) === 0, lit("[]"))
      .otherwise(concat(lit("["), slashing, lit("]")))
    val payload = concat(
      lit("""{"data":{"message":{"body":{"proposer_slashings":"""),
      arr, lit("""}}}}"""))
    val raw = events(s, d).filter(e < 3000)
      // fan the single-file fixture slice across cores before the heavy
      // per-row JSON synthesis + production from_json parse (bench fixture
      // shaping: production chunks arrive as many files and parse where read)
      .repartition(s.sparkContext.defaultParallelism)
      .select((e * 10000L).as("slot"), payload.as("payload"))
    graft.beacon.BlockParser
      .proposerSlashings(graft.beacon.BlockParser.withParsed(raw))
  }

  /** P14 (real parser): [[graft.beacon.BlockParser.executionRequestsTable]]
    * end-to-end (reference: src/parsers/electra.py:53-84) — the
    * JSON-PASSTHROUGH shape: the whole execution_requests object is
    * echoed as a string column (get_json_object on compact input must
    * reproduce the synthesized substring byte-for-byte) plus three
    * sub-list counts, and the row is emitted ONLY when any count > 0 —
    * the all-empty variant (event_id % 4 == 0) must vanish. */
  val p14ExecutionRequests: Q = (s, d) => {
    val e = col("event_id")
    val dArr = when(pmod(e, lit(4)) === 1, lit("""[{"x":1}]""")).otherwise(lit("[]"))
    val wArr = when(pmod(e, lit(4)) === 2, lit("""[{"x":1},{"x":2}]""")).otherwise(lit("[]"))
    val cArr = when(pmod(e, lit(4)) === 3, lit("""[{"x":1}]""")).otherwise(lit("[]"))
    val er = concat(lit("""{"deposits":"""), dArr,
      lit(""","withdrawals":"""), wArr,
      lit(""","consolidations":"""), cArr, lit("}"))
    val payload = concat(
      lit("""{"data":{"message":{"body":{"execution_requests":"""),
      er, lit("""}}}}"""))
    val raw = events(s, d).filter(e < 3000)
      // fan the single-file fixture slice across cores before the heavy
      // per-row JSON synthesis + production from_json parse (bench fixture
      // shaping: production chunks arrive as many files and parse where read)
      .repartition(s.sparkContext.defaultParallelism)
      .select((e * 10000L).as("slot"), payload.as("payload"))
    graft.beacon.BlockParser
      .executionRequestsTable(graft.beacon.BlockParser.withParsed(raw))
  }

  /** P8 (real parser): [[graft.beacon.BlockParser.executionPayloads]]
    * end-to-end (reference: src/parsers/bellatrix.py:15-58 with the
    * deneb.py:36-41 / capella.py:41-43 fork overrides) — the widest
    * single-row projection (15 EL fields + 3 derived counts). Every odd
    * event is a BELLATRIX-era payload: no blob-gas fields, no
    * withdrawals, no transactions — each must DEFAULT (0 via safe_long /
    * size-or-0), not null out, which is exactly the declarative
    * fork-awareness claim (absent fields parse as null and default at
    * projection; no per-row fork dispatch). */
  val p8ExecutionPayloads: Q = (s, d) => {
    val e = col("event_id")
    val es = e.cast("string")
    val newer = concat(
      lit(""","transactions":["0xt1","0xt2"],"withdrawals":[{}],"blob_gas_used":""""),
      (e * 5).cast("string"),
      lit("""","excess_blob_gas":""""), (e * 6).cast("string"), lit("\""))
    val ep = concat(
      lit("""{"parent_hash":"0xph"""), es,
      lit("""","fee_recipient":"0xfr"""), es,
      lit("""","state_root":"0xsr"""), es,
      lit("""","receipts_root":"0xrr"""), es,
      lit("""","logs_bloom":"0xlb"""), es,
      lit("""","prev_randao":"0xra"""), es,
      lit("""","block_number":""""), (e * 2).cast("string"),
      lit("""","gas_limit":""""), (e * 3).cast("string"),
      lit("""","gas_used":""""), (e * 4).cast("string"),
      lit("""","timestamp":""""), (e + 1000000).cast("string"),
      lit("""","base_fee_per_gas":"7"""),
      lit("""","block_hash":"0xbh"""), es,
      lit("""","extra_data":"0xed"""), es, lit("\""),
      when(pmod(e, lit(2)) === 0, newer).otherwise(lit("")),
      lit("}"))
    val payload = concat(
      lit("""{"data":{"message":{"body":{"execution_payload":"""),
      ep, lit("""}}}}"""))
    val raw = events(s, d).filter(e < 3000)
      // fan the single-file fixture slice across cores before the heavy
      // per-row JSON synthesis + production from_json parse (bench fixture
      // shaping: production chunks arrive as many files and parse where read)
      .repartition(s.sparkContext.defaultParallelism)
      .select((e * 10000L).as("slot"), payload.as("payload"))
    graft.beacon.BlockParser
      .executionPayloads(graft.beacon.BlockParser.withParsed(raw))
  }

  /** P4 (real parser): [[graft.beacon.BlockParser.voluntaryExits]]
    * (reference: src/parsers/phase0.py:46-59) — enumerate + nested
    * message projection, variable arity 0–2. */
  val p4VoluntaryExits: Q = (s, d) => {
    val e = col("event_id")
    val es = e.cast("string")
    def entry(j: Int) = concat(
      lit("""{"signature":"0xvs"""), es, lit(s"_$j"),
      lit("""","message":{"epoch":""""), (e + j).cast("string"),
      lit("""","validator_index":""""), (e * 10 + j).cast("string"),
      lit(""""}}"""))
    val arr = when(pmod(e, lit(3)) === 0, lit("[]"))
      .when(pmod(e, lit(3)) === 1, concat(lit("["), entry(0), lit("]")))
      .otherwise(concat(lit("["), entry(0), lit(","), entry(1), lit("]")))
    val payload = concat(
      lit("""{"data":{"message":{"body":{"voluntary_exits":"""),
      arr, lit("""}}}}"""))
    val raw = events(s, d).filter(e < 3000)
      // fan the single-file fixture slice across cores before the heavy
      // per-row JSON synthesis + production from_json parse (bench fixture
      // shaping: production chunks arrive as many files and parse where read)
      .repartition(s.sparkContext.defaultParallelism)
      .select((e * 10000L).as("slot"), payload.as("payload"))
    graft.beacon.BlockParser.voluntaryExits(graft.beacon.BlockParser.withParsed(raw))
  }

  /** P16 (real parser): [[graft.beacon.StateParsers.pendingDeposits]]
    * (reference: src/parsers/electra.py:113-129) — the pending-queue
    * family's representative: the entry's OWN `slot` field must surface
    * renamed `deposit_slot` (never colliding with the snapshot slot),
    * plus the withMeta slot_timestamp/insert_version columns (timestamp
    * surfaced as a formatted string — the c8/p19 timezone-free
    * convention). */
  val p16PendingDeposits: Q = (s, d) => {
    val e = col("event_id")
    val es = e.cast("string")
    def entry(j: Int) = concat(
      lit("""{"pubkey":"0xp"""), es, lit(s"_$j"),
      lit("""","withdrawal_credentials":"0xw"""), es,
      lit("""","amount":""""), (e * 7 + j).cast("string"),
      lit("""","signature":"0xsg"""), es,
      lit("""","slot":""""), (e + j).cast("string"), lit("\"}"))
    val arr = when(pmod(e, lit(3)) === 0, lit("[]"))
      .when(pmod(e, lit(3)) === 1, concat(lit("["), entry(0), lit("]")))
      .otherwise(concat(lit("["), entry(0), lit(","), entry(1), lit("]")))
    val payload = concat(lit("""{"data":"""), arr, lit("}"))
    val raw = events(s, d).filter(e < 1500)
      // fan the single-file fixture slice across cores before the heavy
      // per-row JSON synthesis + production from_json parse (bench fixture
      // shaping: production chunks arrive as many files and parse where read)
      .repartition(s.sparkContext.defaultParallelism)
      .select((e * 10).as("slot"), payload.as("payload"))
    graft.beacon.StateParsers
      .pendingDeposits(raw, graft.beacon.ChainConfig.gnosis, insertVersion = 3L)
      .withColumn("slot_timestamp",
        date_format(col("slot_timestamp"), "yyyy-MM-dd HH:mm:ss"))
  }

  /** P13 (real parser): [[graft.beacon.StateParsers.blobSidecars]]
    * end-to-end minus only the placeholder-hash column (reference:
    * src/parsers/deneb.py:45-67) — explode, commitment/proof strings,
    * blob char length, and the withMeta columns all ride the hard gate;
    * `blob_hash` is the documented xxhash64 placeholder with no DuckDB
    * twin, dropped here like p9's. */
  val p13BlobSidecars: Q = (s, d) => {
    val e = col("event_id")
    val es = e.cast("string")
    def entry(j: Int) = concat(
      lit("""{"index":""""), (e * 2 + j).cast("string"),
      lit("""","kzg_commitment":"0xkc"""), es, lit(s"_$j"),
      lit("""","kzg_proof":"0xkp"""), es,
      lit("""","blob":"0x""" + "ab" * (j + 1) + "\"}"))
    val arr = when(pmod(e, lit(3)) === 0, lit("[]"))
      .when(pmod(e, lit(3)) === 1, concat(lit("["), entry(0), lit("]")))
      .otherwise(concat(lit("["), entry(0), lit(","), entry(1), lit("]")))
    val payload = concat(lit("""{"data":"""), arr, lit("}"))
    val raw = events(s, d).filter(e < 1500)
      // fan the single-file fixture slice across cores before the heavy
      // per-row JSON synthesis + production from_json parse (bench fixture
      // shaping: production chunks arrive as many files and parse where read)
      .repartition(s.sparkContext.defaultParallelism)
      .select((e * 10).as("slot"), payload.as("payload"))
    graft.beacon.StateParsers
      .blobSidecars(raw, graft.beacon.ChainConfig.gnosis, insertVersion = 4L)
      .drop("blob_hash")
      .withColumn("slot_timestamp",
        date_format(col("slot_timestamp"), "yyyy-MM-dd HH:mm:ss"))
  }

  /** P21 (real parser): [[graft.beacon.StateParsers.dataColumnSidecars]]
    * FULLY gated — including all three canonical-JSON sha256 hashes
    * (reference: src/parsers/data_column_sidecars.py:62-74): for ASCII
    * hex-string arrays Spark's `to_json` IS the canonical compact form,
    * and the arrays here are closed-form, so the oracle rebuilds the
    * exact JSON text and sha256's it — byte-for-byte hash parity inside
    * the driver's hard gate, not just the unit test. Also exercises the
    * C5 recursive hex byte-length fold (column_bytes). */
  val p21DataColumnSidecars: Q = (s, d) => {
    val e = col("event_id")
    val es = e.cast("string")
    def entry(j: Int) = {
      val cells = (0 to j).map(k => "\"0x" + "ab" * (k + 1) + "\"").mkString(",")
      val commits = (0 until j).map(_ => "\"0xcd\"").mkString(",")
      concat(
        lit("""{"index":""""), (e * 5 + j).cast("string"),
        lit(s"""","column":[$cells],"kzg_commitments":[$commits]"""),
        lit(""","kzg_proofs":"""),
        when(pmod(e, lit(2)) === 0, lit("[]")).otherwise(lit("""["0xef"]""")),
        lit(""","signed_block_header":{"message":{"slot":""""),
        (e + j).cast("string"),
        lit("""","proposer_index":""""), (e * 3 + j).cast("string"),
        lit("""","body_root":"0xbr"""), es, lit("\"}}}"))
    }
    val arr = when(pmod(e, lit(3)) === 0, lit("[]"))
      .when(pmod(e, lit(3)) === 1, concat(lit("["), entry(0), lit("]")))
      .otherwise(concat(lit("["), entry(0), lit(","), entry(1), lit("]")))
    val payload = concat(lit("""{"data":"""), arr, lit("}"))
    val raw = events(s, d).filter(e < 1500)
      // fan the single-file fixture slice across cores before the heavy
      // per-row JSON synthesis + production from_json parse (bench fixture
      // shaping: production chunks arrive as many files and parse where read)
      .repartition(s.sparkContext.defaultParallelism)
      .select((e * 10).as("slot"), payload.as("payload"))
    graft.beacon.StateParsers
      .dataColumnSidecars(raw, graft.beacon.ChainConfig.gnosis, insertVersion = 5L)
      .withColumn("slot_timestamp",
        date_format(col("slot_timestamp"), "yyyy-MM-dd HH:mm:ss"))
  }

  /** P20 (real parser): [[graft.beacon.StateParsers.rewards]]
    * (reference: src/parsers/rewards.py:11-40) — the single-object
    * (non-exploding) state parse: `data` is ONE object → one row of
    * reward components, null-gated on missing data. */
  val p20Rewards: Q = (s, d) => {
    val e = col("event_id")
    val payload = concat(
      lit("""{"data":{"proposer_index":""""), e.cast("string"),
      lit("""","total":""""), (e * 2).cast("string"),
      lit("""","attestations":""""), (e * 3).cast("string"),
      lit("""","sync_aggregate":""""), (e + 1).cast("string"),
      lit("""","proposer_slashings":""""), pmod(e, lit(5)).cast("string"),
      lit("""","attester_slashings":""""), pmod(e, lit(7)).cast("string"),
      lit(""""}}"""))
    val raw = events(s, d).filter(e < 1500)
      // fan the single-file fixture slice across cores before the heavy
      // per-row JSON synthesis + production from_json parse (bench fixture
      // shaping: production chunks arrive as many files and parse where read)
      .repartition(s.sparkContext.defaultParallelism)
      .select((e * 10).as("slot"), payload.as("payload"))
    graft.beacon.StateParsers
      .rewards(raw, graft.beacon.ChainConfig.gnosis, insertVersion = 2L)
      .withColumn("slot_timestamp",
        date_format(col("slot_timestamp"), "yyyy-MM-dd HH:mm:ss"))
  }

  /** P11 (real parser): [[graft.beacon.BlockParser.blsChanges]]
    * (reference: src/parsers/capella.py:46-60). */
  val p11BlsChanges: Q = (s, d) => {
    val e = col("event_id")
    val es = e.cast("string")
    def entry(j: Int) = concat(
      lit("""{"signature":"0xcs"""), es, lit(s"_$j"),
      lit("""","message":{"validator_index":""""), (e * 10 + j).cast("string"),
      lit("""","from_bls_pubkey":"0xfb"""), es,
      lit("""","to_execution_address":"0xea"""), es, lit(s"_$j"),
      lit(""""}}"""))
    val arr = when(pmod(e, lit(3)) === 0, lit("[]"))
      .when(pmod(e, lit(3)) === 1, concat(lit("["), entry(0), lit("]")))
      .otherwise(concat(lit("["), entry(0), lit(","), entry(1), lit("]")))
    val payload = concat(
      lit("""{"data":{"message":{"body":{"bls_to_execution_changes":"""),
      arr, lit("""}}}}"""))
    val raw = events(s, d).filter(e < 3000)
      // fan the single-file fixture slice across cores before the heavy
      // per-row JSON synthesis + production from_json parse (bench fixture
      // shaping: production chunks arrive as many files and parse where read)
      .repartition(s.sparkContext.defaultParallelism)
      .select((e * 10000L).as("slot"), payload.as("payload"))
    graft.beacon.BlockParser.blsChanges(graft.beacon.BlockParser.withParsed(raw))
  }

  /** P12 (real parser): [[graft.beacon.BlockParser.blobCommitments]]
    * (reference: src/parsers/deneb.py:22-33) — the scalar-element
    * explode (commitments are bare strings, not objects). */
  val p12BlobCommitments: Q = (s, d) => {
    val e = col("event_id")
    val es = e.cast("string")
    val arr = when(pmod(e, lit(3)) === 0, lit("[]"))
      .when(pmod(e, lit(3)) === 1,
        concat(lit("""["0xk"""), es, lit("""_0"]""")))
      .otherwise(concat(lit("""["0xk"""), es, lit("""_0","0xk"""), es, lit("""_1"]""")))
    val payload = concat(
      lit("""{"data":{"message":{"body":{"blob_kzg_commitments":"""),
      arr, lit("""}}}}"""))
    val raw = events(s, d).filter(e < 3000)
      // fan the single-file fixture slice across cores before the heavy
      // per-row JSON synthesis + production from_json parse (bench fixture
      // shaping: production chunks arrive as many files and parse where read)
      .repartition(s.sparkContext.defaultParallelism)
      .select((e * 10000L).as("slot"), payload.as("payload"))
    graft.beacon.BlockParser.blobCommitments(graft.beacon.BlockParser.withParsed(raw))
  }

  /** P15 (real parser): [[graft.beacon.StateParsers.pendingConsolidations]]
    * (reference: src/parsers/electra.py:98-111). */
  val p15PendingConsolidations: Q = (s, d) => {
    val e = col("event_id")
    def entry(j: Int) = concat(
      lit("""{"source_index":""""), (e * 10 + j).cast("string"),
      lit("""","target_index":""""), (e * 20 + j).cast("string"), lit("\"}"))
    val arr = when(pmod(e, lit(3)) === 0, lit("[]"))
      .when(pmod(e, lit(3)) === 1, concat(lit("["), entry(0), lit("]")))
      .otherwise(concat(lit("["), entry(0), lit(","), entry(1), lit("]")))
    val payload = concat(lit("""{"data":"""), arr, lit("}"))
    val raw = events(s, d).filter(e < 1500)
      // fan the single-file fixture slice across cores before the heavy
      // per-row JSON synthesis + production from_json parse (bench fixture
      // shaping: production chunks arrive as many files and parse where read)
      .repartition(s.sparkContext.defaultParallelism)
      .select((e * 10).as("slot"), payload.as("payload"))
    graft.beacon.StateParsers
      .pendingConsolidations(raw, graft.beacon.ChainConfig.gnosis, insertVersion = 4L)
      .withColumn("slot_timestamp",
        date_format(col("slot_timestamp"), "yyyy-MM-dd HH:mm:ss"))
  }

  /** P17 (real parser): [[graft.beacon.StateParsers.pendingPartialWithdrawals]]
    * (reference: src/parsers/electra.py:131-145). */
  val p17PendingPartialWithdrawals: Q = (s, d) => {
    val e = col("event_id")
    def entry(j: Int) = concat(
      lit("""{"validator_index":""""), (e * 10 + j).cast("string"),
      lit("""","amount":""""), (e * 3 + j).cast("string"),
      lit("""","withdrawable_epoch":""""), (e + j).cast("string"), lit("\"}"))
    val arr = when(pmod(e, lit(3)) === 0, lit("[]"))
      .when(pmod(e, lit(3)) === 1, concat(lit("["), entry(0), lit("]")))
      .otherwise(concat(lit("["), entry(0), lit(","), entry(1), lit("]")))
    val payload = concat(lit("""{"data":"""), arr, lit("}"))
    val raw = events(s, d).filter(e < 1500)
      // fan the single-file fixture slice across cores before the heavy
      // per-row JSON synthesis + production from_json parse (bench fixture
      // shaping: production chunks arrive as many files and parse where read)
      .repartition(s.sparkContext.defaultParallelism)
      .select((e * 10).as("slot"), payload.as("payload"))
    graft.beacon.StateParsers
      .pendingPartialWithdrawals(raw, graft.beacon.ChainConfig.gnosis, insertVersion = 5L)
      .withColumn("slot_timestamp",
        date_format(col("slot_timestamp"), "yyyy-MM-dd HH:mm:ss"))
  }

  /** P19: the validators mega-payload parser end-to-end
    * ([[graft.beacon.StateParsers.validators]], reference:
    * src/parsers/validators.py:11-47): variable-length validator arrays
    * synthesized from `events` closed forms — including the UInt64
    * FAR_FUTURE sentinel epoch on every other entry, which must clamp
    * to Long.MaxValue through `safe_long` — parsed by the PRODUCTION
    * from_json + explode + withMeta path; the oracle recomputes every
    * column (sentinel clamp included, as the literal 2⁶³−1) without
    * parsing JSON. slot_timestamp is surfaced as a formatted string so
    * the comparison is timezone-free (the c8 convention). */
  val p19Validators: Q = (s, d) => {
    val cfg = graft.beacon.ChainConfig.gnosis
    val e = col("event_id")
    val n = (pmod(e, lit(5)) + 1).cast("int")
    def entry(j: org.apache.spark.sql.Column) = concat(
      lit("""{"index":""""), (e * 10 + j).cast("string"),
      lit("""","balance":""""), (e * 100 + j).cast("string"),
      lit("""","status":""""),
      when(pmod(j, lit(3)) === 0, "active_ongoing")
        .when(pmod(j, lit(3)) === 1, "pending_queued")
        .otherwise("exited_slashed"),
      lit("""","validator":{"pubkey":"0xp"""), e.cast("string"),
      lit("_"), j.cast("string"),
      lit("""","withdrawal_credentials":"0xw"""), j.cast("string"),
      lit("""","effective_balance":""""), (j * 16).cast("string"),
      lit("""","slashed":"""), when(pmod(j, lit(2)) === 0, "true").otherwise("false"),
      lit(""","activation_eligibility_epoch":""""), j.cast("string"),
      lit("""","activation_epoch":""""), (j + 1).cast("string"),
      lit("""","exit_epoch":""""),
      when(pmod(j, lit(2)) === 0, lit("18446744073709551615"))
        .otherwise((j + 2).cast("string")),
      lit("""","withdrawable_epoch":""""), (j + 3).cast("string"),
      lit(""""}}"""))
    val payload = concat(lit("""{"data":["""),
      array_join(transform(sequence(lit(1), n), entry(_)), ","), lit("]}"))
    val raw = events(s, d).filter(e < 1500)
      // fan the single-file fixture slice across cores before the heavy
      // per-row JSON synthesis + production from_json parse (bench fixture
      // shaping: production chunks arrive as many files and parse where read)
      .repartition(s.sparkContext.defaultParallelism)
      .select((e * 10).as("slot"), payload.as("payload"))
    graft.beacon.StateParsers.validators(raw, cfg, insertVersion = 7L)
      .withColumn("slot_timestamp",
        date_format(col("slot_timestamp"), "yyyy-MM-dd HH:mm:ss"))
  }

  /** P2-shape: posexplode + enumerate (attestation-list parsing shape). */
  val p2ExplodeEnumerate: Q = (s, d) =>
    documents(s, d)
      .filter(col("doc_id") < 20)
      .select(col("doc_id"), posexplode(split(col("text"), " ")))
      .select(col("doc_id"), (col("pos") + 1).cast("long").as("pos"), col("col").as("word"))

  /** P24-shape: unpivot/melt (specs k/v table; reference:
    * src/loaders/specs.py:24-91). */
  val p24Unpivot: Q = (s, d) => {
    val li = lineitem(s, d).filter(col("l_orderkey") < 100)
    li.select(
        col("l_orderkey"), col("l_linenumber"),
        lit("quantity").as("param"), col("l_quantity").as("val"))
      .unionByName(
        li.select(
          col("l_orderkey"), col("l_linenumber"),
          lit("tax").as("param"), col("l_tax").as("val")))
  }

  // ---------------------------------------------------------------------
  // §2.5/§2.7 extensions: as-of join, sessionization, per-key percentiles
  // ---------------------------------------------------------------------

  /** J8: as-of join — for each `click`, the latest `purchase` by the same
    * user strictly before it (ties on ts broken by event_id), via the
    * generic [[graft.operators.EventOps.asofJoin]] MERGE shape: both
    * sides ride ONE shuffle on user_id and an ignore-nulls `last()` over
    * the preceding-rows frame picks the match. A range/inequality join
    * here would rescan the purchase side per click (quadratic in
    * events-per-user and un-broadcastable at 100 TB); the merge is linear
    * in partition size. The match struct keeps (purchase_id, its ts)
    * consistent by construction. */
  val j8AsofJoin: Q = (s, d) => {
    val ev = events(s, d)
    val sec = unix_timestamp(eventTs(ev))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts"), col("event_id"), sec.as("sec"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"),
        col("event_id").as("purchase_id"), sec.as("p_sec"))
    graft.operators.EventOps.asofJoin(
      clicks, purchases, "user_id",
      leftTsCol = "ts", rightTsCol = "ts",
      leftTieCol = "event_id", rightTieCol = "purchase_id",
      rightValueCols = Seq("purchase_id", "p_sec"))
      .select(
        col("event_id").as("click_id"),
        col("user_id"),
        col("purchase_id"),
        (col("sec") - col("p_sec")).as("gap_s"))
  }

  /** J21: as-of join WITH STALENESS TOLERANCE
    * ([[graft.operators.EventOps.asofJoinWithin]]) — j8's merge where a
    * purchase older than 1 hour no longer explains a click (the
    * trade-vs-quote rule). Same one-exchange union-merge; the tolerance
    * is a free scan-side null-out, so the gated variant costs exactly
    * what j8 costs at any scale. */
  val j21AsofTolerance: Q = (s, d) => {
    val ev = events(s, d)
    val sec = unix_timestamp(eventTs(ev))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts"), col("event_id"), sec.as("sec"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"),
        col("event_id").as("purchase_id"), sec.as("p_sec"))
    graft.operators.EventOps.asofJoinWithin(
      clicks, purchases, "user_id",
      leftTsCol = "ts", rightTsCol = "ts",
      leftTieCol = "event_id", rightTieCol = "purchase_id",
      rightValueCols = Seq("purchase_id", "p_sec"),
      leftSecCol = "sec", rightSecCol = "p_sec",
      toleranceSeconds = 3600L)
      .select(
        col("event_id").as("click_id"),
        col("user_id"),
        col("purchase_id"),
        (col("sec") - col("p_sec")).as("gap_s"))
  }

  /** W4: gap-based sessionization — the canonical event-stream operator
    * Spark has no primitive for: a session starts at any event ≥ 30 min
    * after its user's previous one. lag → boundary flag → running sum
    * (rows frame: the order keys are unique, so rows ≡ range but skips
    * the range-frame scan), then per-session aggregation. Everything
    * after the single user_id exchange stays inside that partition —
    * both windows and the groupBy reuse the same hash partitioning, so
    * at 100 TB this is one shuffle of (user_id, ts, event_id) triples
    * and nothing else. All-long arithmetic (epoch seconds) — exact. */
  val w4Sessionization: Q = (s, d) => {
    val ev = events(s, d)
    graft.operators.EventOps.sessionize(
      ev.select(col("user_id"), eventTs(ev).as("ts"), col("event_id")),
      "user_id", "ts", "event_id", gapSeconds = 1800L)
  }

  /** Drain a testdata table as a bounded file STREAM (the r7/r8/r9
    * hard-gate pattern): schema from the batch read, the sf directory
    * glob-pinned to the one table file, Trigger.AvailableNow, results
    * through a uniquely-named memory sink. `mode` is the sink output
    * mode — `complete` for windowed aggregations (every window emits in
    * the final snapshot; append would hold back windows the watermark
    * hasn't passed when the stream self-stops).
    *
    * NOTHING LEAKS per call: the result is pinned with an eager
    * `localCheckpoint` (cache-managed — a bench's clearCache frees it),
    * then the memory-sink temp view is dropped (unpinning the sink's
    * driver-resident row buffer) and the checkpoint temp dir is deleted
    * (AvailableNow finished — nothing will resume from it). Without
    * this, one bench sweep strands 4 runs × result-set copies in driver
    * memory plus orphaned /tmp checkpoint dirs per streaming query. */
  /** Scratch directory for a query's TRANSIENT artifacts — drain staging
    * files, streaming checkpoints, ledger round-trips, incremental
    * caches. All of them are created and deleted inside one query
    * invocation (never carried across runs — the no-precomputation
    * contract), so durability has zero value and their cost is pure
    * fixed I/O latency: a streaming drain commits offsets + state per
    * micro-batch as many tiny fsync'd files (guide §6 — small-file
    * overhead). r17: RAM-backed scratch (`/dev/shm`) when present,
    * overridable via `SPARK_GRAFT_SCRATCH` (point it at fast local disk
    * on a cluster where executors cannot see the driver's tmpfs);
    * falls back to the JVM default temp dir. */
  private[graft] def scratchDir(prefix: String): java.nio.file.Path = {
    val base = sys.env.get("SPARK_GRAFT_SCRATCH").orElse {
      val shm = java.nio.file.Paths.get("/dev/shm")
      if (java.nio.file.Files.isDirectory(shm) &&
        java.nio.file.Files.isWritable(shm)) Some("/dev/shm") else None
    }
    base match {
      case Some(b) => java.nio.file.Files.createTempDirectory(
        java.nio.file.Paths.get(b), prefix)
      case None => java.nio.file.Files.createTempDirectory(prefix)
    }
  }

  private[queries] def drainStream(
      s: SparkSession, d: String, tableFile: String, prefix: String,
      mode: String)(build: DataFrame => DataFrame): DataFrame = {
    val schema = Tables.open(s, s"$d/$tableFile").schema
    val stream = s.readStream.schema(schema)
      .option("pathGlobFilter", tableFile).parquet(d)
    val tbl = prefix + java.util.UUID.randomUUID().toString.replace("-", "")
    val ckpt = scratchDir(prefix)
    val q = build(stream).writeStream.format("memory").queryName(tbl)
      .outputMode(mode).option("checkpointLocation", ckpt.toString)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    finishDrain(s, tbl, ckpt)
  }

  /** [[drainStream]] with REAL micro-batch boundaries: the table is
    * first rewritten as `nFiles` parquet files in a temp dir and the
    * stream reads them with `maxFilesPerTrigger = 1`, so the drain runs
    * nFiles micro-batches and the query's state genuinely crosses batch
    * boundaries (a single-file AvailableNow drain is one batch — it
    * exercises the streaming PLAN but not state persistence). Only
    * sound for queries whose final answer is independent of how rows
    * split into batches (exact keyed counts, commuting sketch adds,
    * majority voting) — which is exactly what the r11/r12/r13 gates
    * assert. Temp source dir is deleted after the drain. */
  private[queries] def drainStreamSplit(
      s: SparkSession, d: String, tableFile: String, prefix: String,
      mode: String, nFiles: Int,
      /** state-store/shuffle partition count for the drain's duration
        * (restored after) — micro-batch overhead scales with partitions
        * × batches, and gate drains move thousands of rows, not
        * billions; the r10 lesson (state partitions sized to drained
        * volume) applied to every split drain. */
      shufflePartitions: Option[String] = Some("8"))(
      build: DataFrame => DataFrame): DataFrame = {
    val src = Tables.open(s, s"$d/$tableFile")
    val tmp = scratchDir(prefix + "src_")
    src.repartition(nFiles).write.mode("overwrite").parquet(tmp.toString)
    val stream = s.readStream.schema(src.schema)
      .option("maxFilesPerTrigger", "1").parquet(tmp.toString)
    val tbl = prefix + java.util.UUID.randomUUID().toString.replace("-", "")
    val ckpt = scratchDir(prefix)
    val prevParts = s.conf.get("spark.sql.shuffle.partitions")
    val q =
      try {
        shufflePartitions.foreach(p =>
          s.conf.set("spark.sql.shuffle.partitions", p))
        build(stream).writeStream.format("memory").queryName(tbl)
          .outputMode(mode).option("checkpointLocation", ckpt.toString)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      } finally s.conf.set("spark.sql.shuffle.partitions", prevParts)
    q.awaitTermination()
    val out = finishDrain(s, tbl, ckpt)
    try {
      java.nio.file.Files.walk(tmp)
        .sorted(java.util.Comparator.reverseOrder())
        .forEach(p => { java.nio.file.Files.deleteIfExists(p); () })
    } catch { case _: Throwable => () }
    out
  }

  /** [[drainStreamSplit]] with CALLER-CONTROLLED micro-batches: each
    * frame stages as exactly ONE parquet file, mtime-ordered in sequence
    * order, and the stream reads them with `maxFilesPerTrigger = 1` — so
    * frame i IS micro-batch i. This is the construction gates need when
    * specific rows must arrive in specific batches: r16/r18's watermark
    * sentinels after the real data, r17's planted near-dup copies in
    * LATER batches than their originals (forcing the match to cross the
    * state store, not just the within-batch fold). Temp source dir and
    * checkpoint are deleted after the drain; `shufflePartitions`
    * optionally narrows state-store partitioning for the drain's
    * duration (restored after). */
  /** Stage each frame as exactly ONE parquet file under a fresh temp dir,
    * mtime-ordered in sequence order (FileStreamSource orders by mtime, so
    * with `maxFilesPerTrigger = 1` frame i IS micro-batch i). Caller owns
    * the returned directory. */
  private def stageFrames(
      frames: Seq[DataFrame], prefix: String): java.nio.file.Path = {
    import java.nio.file.{Files => JFiles}
    require(frames.nonEmpty, "staged drain needs at least one frame")
    val srcDir = scratchDir(prefix + "src_")
    val t0 = System.currentTimeMillis()
    // every temp dir any task creates, so a FAILED staging run can
    // clean up after itself instead of leaking stage dirs
    val created = new java.util.concurrent.ConcurrentLinkedQueue[java.nio.file.Path]()
    // The per-frame single-file writes are INDEPENDENT jobs — run them
    // from a small thread pool so each job's tail back-fills the others'
    // idle cores (guide §2.6 overlap; measured: 4-6 sequential staging
    // jobs were ~1.5-3 s of a staged gate's wall at sf0.1). Each frame
    // still writes via its own coalesce(1) into its own temp dir, so
    // file CONTENT and row order are byte-identical to the sequential
    // form; the mtime stamping that fixes frame→batch order happens
    // strictly AFTER every write has finished, sequentially.
    val staged =
      try graft.core.Parallel.all(frames.zipWithIndex.map { case (dfx, i) => () =>
        val stage = scratchDir(prefix + "stage_")
        created.add(stage)
        dfx.coalesce(1).write.mode("overwrite").parquet(stage.toString)
        (i, stage)
      }, threads = 4)
      catch { case t: Throwable =>
        // every write has finished (deleting under one would race the
        // parquet committer): remove every dir this call created
        created.forEach(p => deleteRecursively(p))
        deleteRecursively(srcDir)
        throw t
      }
    staged.foreach { case (i, stage) =>
      val part = JFiles.list(stage).filter(p =>
        p.getFileName.toString.endsWith(".parquet")).findFirst().get()
      val dst = srcDir.resolve(f"b$i%04d.parquet")
      JFiles.move(part, dst)
      // spacing derives from frames.length so the LAST staged file still
      // sits comfortably in the past — a fixed t0-100s start reaches
      // "now" at i=10 and future mtimes could collide with fresh
      // checkpoint/source files, breaking the frame-i-is-batch-i order
      JFiles.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(
          t0 - (frames.length + 2).toLong * 10000L + i * 10000L))
      try {
        JFiles.walk(stage).sorted(java.util.Comparator.reverseOrder())
          .forEach(p => { JFiles.deleteIfExists(p); () })
      } catch { case _: Throwable => () }
    }
    srcDir
  }

  private def deleteRecursively(dir: java.nio.file.Path): Unit =
    try {
      java.nio.file.Files.walk(dir)
        .sorted(java.util.Comparator.reverseOrder())
        .forEach(p => { java.nio.file.Files.deleteIfExists(p); () })
    } catch { case _: Throwable => () }

  /** [[drainStagedFiles]] for foreachBatch sinks: frame i still arrives
    * as micro-batch i (same mtime-ordered single-file staging +
    * `maxFilesPerTrigger = 1`), but each batch is handed to `onBatch`
    * with its batchId instead of folding into a memory sink — the shape
    * for streaming operators that maintain EXTERNAL per-batch state
    * (r20's incremental-curation verdict cache). Temp source dir and
    * checkpoint are deleted after the drain. */
  private[queries] def drainStagedForeach(
      s: SparkSession, frames: Seq[DataFrame], prefix: String,
      shufflePartitions: Option[String] = None)(
      onBatch: (DataFrame, Long) => Unit): Unit = {
    import java.nio.file.{Files => JFiles}
    // nonEmpty BEFORE frames.head — an empty drain must die with the
    // staging message, not a NoSuchElementException
    require(frames.nonEmpty, "staged drain needs at least one frame")
    val schema = frames.head.schema
    val srcDir = stageFrames(frames, prefix)
    val ckpt = scratchDir(prefix)
    // try/finally: a failing onBatch throws out of awaitTermination and
    // must not leak the temp source/checkpoint dirs
    try {
      val stream = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(srcDir.toString)
      val prevParts = s.conf.get("spark.sql.shuffle.partitions")
      val fn: (org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], Long) => Unit =
        (b, id) => onBatch(b.toDF(), id)
      val q =
        try {
          shufflePartitions.foreach(p =>
            s.conf.set("spark.sql.shuffle.partitions", p))
          stream.writeStream.foreachBatch(fn)
            .option("checkpointLocation", ckpt.toString)
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
        } finally s.conf.set("spark.sql.shuffle.partitions", prevParts)
      q.awaitTermination()
    } finally {
      deleteRecursively(srcDir)
      deleteRecursively(ckpt)
    }
  }

  private[queries] def drainStagedFiles(
      s: SparkSession, frames: Seq[DataFrame], prefix: String,
      mode: String, shufflePartitions: Option[String] = None)(
      build: DataFrame => DataFrame): DataFrame = {
    require(frames.nonEmpty, "staged drain needs at least one frame")
    val schema = frames.head.schema
    val srcDir = stageFrames(frames, prefix)
    val ckpt = scratchDir(prefix)
    // try/finally: a failing build/drain must not leak the temp dirs
    // (finishDrain deletes ckpt on success; deleteRecursively is
    // idempotent so the finally re-delete is harmless)
    try {
      val stream = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(srcDir.toString)
      val tbl = prefix + java.util.UUID.randomUUID().toString.replace("-", "")
      val prevParts = s.conf.get("spark.sql.shuffle.partitions")
      val q =
        try {
          shufflePartitions.foreach(p =>
            s.conf.set("spark.sql.shuffle.partitions", p))
          build(stream).writeStream.format("memory").queryName(tbl)
            .outputMode(mode).option("checkpointLocation", ckpt.toString)
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
        } finally s.conf.set("spark.sql.shuffle.partitions", prevParts)
      q.awaitTermination()
      finishDrain(s, tbl, ckpt)
    } finally {
      deleteRecursively(srcDir)
      deleteRecursively(ckpt)
    }
  }

  /** Pin the memory-sink result, then release the sink view + delete the
    * finished checkpoint dir (shared by [[drainStream]] and the
    * two-stream r10). */
  private[queries] def finishDrain(
      s: SparkSession, tbl: String, ckpt: java.nio.file.Path): DataFrame = {
    val out = s.table(tbl).localCheckpoint(true)
    s.catalog.dropTempView(tbl)
    try {
      java.nio.file.Files.walk(ckpt)
        .sorted(java.util.Comparator.reverseOrder())
        .forEach(p => { java.nio.file.Files.deleteIfExists(p); () })
    } catch { case _: Throwable => () }
    out
  }

  /** R8: STREAMING tumbling-window counts under the hard gate (the r7
    * pattern applied to the watermark/window-agg path): the events table
    * drains as a file stream through [[graft.streaming.StreamingJobs
    * .windowedActivity]] (5-minute windows, watermarked), complete-mode
    * snapshot at stream end, and the DuckDB oracle is the batch twin —
    * exact integer bucket arithmetic (epoch µs div 300e6), so a window
    * the state store dropped, split, or double-counted is a hash
    * mismatch. Counts only: the value sum stays out of the compare (IEEE
    * accumulation order differs by design between engines). */
  val r8StreamWindowCounts: Q = (s, d) =>
    drainStream(s, d, "events.parquet", "r8_wc_", "complete") { ev =>
      graft.streaming.StreamingJobs.windowedActivity(
        ev.withColumn("__ts", eventTs(ev).cast("timestamp")), "__ts", "event_type")
    }
      .select(col("window_start").cast("long").as("start_s"),
        col("event_type"), col("n"))

  /** R9: STREAMING gap sessions (native `session_window`) under the hard
    * gate — the merging-window state path, strictly harder state than
    * r8's fixed buckets: the engine must MERGE overlapping per-user
    * session fragments across micro-batches. Complete-mode snapshot at
    * stream end; the oracle replays the session semantics exactly in µs
    * integers (merge while delta < gap; end = last event + gap).
    * Complete mode is the bounded-drain GATE shape — an unbounded
    * production stream runs append mode with the watermark sealing
    * sessions (state bounded by the lateness horizon, e2e-tested in
    * StreamingSpec). Gap is
    * [[graft.streaming.StreamingJobs.sessionWindows]]'s 1801 s default —
    * the w4 batch parity shift (session_window merges on `delta < gap`,
    * the batch operator on `delta <= gap`). */
  val r9StreamSessionWindows: Q = (s, d) =>
    drainStream(s, d, "events.parquet", "r9_sw_", "complete") { ev =>
      graft.streaming.StreamingJobs.sessionWindows(
        ev.withColumn("__ts", eventTs(ev).cast("timestamp")), "__ts", "user_id")
    }
      .select(col("user_id"),
        unix_micros(col("session_start")).as("start_us"),
        unix_micros(col("session_end")).as("end_us"),
        col("n_events"))

  /** R10: STREAMING stream-stream attribution join under the hard gate —
    * the third streaming state family after r7 (keyed dedup) and r8/r9
    * (windowed aggs): a symmetric hash join where BOTH sides buffer in
    * the state store until the opposite watermark proves no match can
    * still arrive. Clicks and purchases are two independent file streams
    * over the same events table; the INNER time-range join emits each
    * match exactly once as it forms, so the AvailableNow drain equals
    * the batch join twin row-for-row — the oracle mirrors the time
    * bound and the seconds-truncated lag in exact integer µs/seconds
    * arithmetic.
    *
    * State partitions are sized to the DRAINED volume (8 for a 100k-row
    * gate; conf scoped and restored): a stream-stream join instantiates
    * per-partition state stores on BOTH sides, and at the session's 32
    * shuffle partitions the fixed store/commit overhead — not the data —
    * dominated the gate's wall time. A production deployment sizes this
    * to sustained throughput instead; the join plan is identical. */
  val r10StreamAttribution: Q = (s, d) => {
    val schema = Tables.open(s, s"$d/events.parquet").schema
    def side(tpe: String, user: String, id: String, ts: String): DataFrame = {
      val ev = s.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet").parquet(d)
      ev.filter(col("event_type") === tpe)
        .select(col("user_id").as(user), col("event_id").as(id),
          eventTs(ev).cast("timestamp").as(ts))
    }
    val joined = graft.streaming.StreamingJobs.attributionJoin(
      side("click", "c_user", "click_id", "click_ts"),
      side("purchase", "p_user", "purchase_id", "purchase_ts"))
    val tbl = "r10_attr_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val ckpt = scratchDir("r10_attr_")
    val prevParts = s.conf.get("spark.sql.shuffle.partitions")
    val q =
      try {
        s.conf.set("spark.sql.shuffle.partitions", "8")
        joined.writeStream.format("memory").queryName(tbl)
          .outputMode("append").option("checkpointLocation", ckpt.toString)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      } finally s.conf.set("spark.sql.shuffle.partitions", prevParts)
    q.awaitTermination()
    finishDrain(s, tbl, ckpt)
  }

  /** R16: the stream-stream LEFT-OUTER arm under the hard gate — the
    * one r10 couldn't cover: an unmatched click emits its NULL-purchase
    * row only when the WATERMARK proves no match can still arrive, and
    * a drained stream's watermark stops at the last real event, so the
    * trailing outer results never flush. The fix is two SENTINEL click
    * files (user_id −1, far-future timestamps, mtime-ordered after the
    * real data): sentinel 1 pushes the watermark past every real
    * click's join horizon (+3600 s window +1800 s lateness), sentinel 2
    * provides the extra micro-batch in which the engine emits the
    * now-expired outer rows; the sentinels' own horizons stay beyond
    * the final watermark, so they never emit (and are filtered anyway).
    * The oracle is the batch LEFT JOIN twin over the real events in
    * exact integer µs — matched rows identical to r10's inner arm,
    * unmatched clicks with NULL purchase/lag. */
  val r16StreamLeftOuter: Q = (s, d) =>
    outerAttributionDrain(s, d, "r16_lo_", "left_outer")

  /** R18: the stream-stream FULL-OUTER arm under the hard gate — the
    * symmetric completion of r16: unmatched PURCHASES must also emit
    * (NULL click side) once the watermark proves no qualifying click can
    * still arrive. Same dual-side far-future sentinel construction
    * (min-policy watermark — BOTH sides need pushing), same horizon
    * margin; sentinels match only each other (user −1, filtered). The
    * oracle is the batch FULL JOIN twin in exact integer µs — matched
    * rows identical to r10, NULL-purchase rows identical to r16, plus
    * one NULL-click row per unmatched purchase, `user_id` coalesced
    * from whichever side exists. */
  val r18StreamFullOuter: Q = (s, d) =>
    outerAttributionDrain(s, d, "r18_fo_", "full_outer")

  /** Shared r16/r18 machinery: the events table plus two dual-side
    * far-future sentinel batches, drained through [[graft.streaming
    * .StreamingJobs.attributionJoin]] at the given outer `joinType`.
    * BOTH sides get a sentinel because the global watermark is the MIN
    * of the two sides' (multipleWatermarkPolicy=min) — advancing only
    * one leaves the other side's eviction clock stuck at the real
    * data's end. Horizon arithmetic: a buffered row holds until the
    * watermark passes its ts + window + BOTH lateness allowances, so
    * sentinel 1 sits a full extra lateness (plus margin) beyond the
    * worst case and sentinel 2 provides the extra micro-batch in which
    * the now-expired outer rows actually emit. Sentinels never emit
    * against real data (user −1 matches only sentinels; filtered). */
  private def outerAttributionDrain(
      s: SparkSession, d: String, prefix: String, joinType: String): DataFrame = {
    val src = Tables.open(s, s"$d/events.parquet")
    val schema = src.schema
    val tsIsLong = schema("ts").dataType == org.apache.spark.sql.types.LongType
    val maxUs = src.select(max(unix_micros(eventTs(src).cast("timestamp"))))
      .head().getLong(0)
    def sentinel(id: Long, us: Long, tpe: String): DataFrame =
      src.limit(1).select(schema.fields.toSeq.map { f =>
        f.name match {
          case "user_id" => lit(-1L).cast(f.dataType).as("user_id")
          case "event_id" => lit(id).cast(f.dataType).as("event_id")
          case "event_type" => lit(tpe).cast(f.dataType).as("event_type")
          case "ts" =>
            (if (tsIsLong) lit(us * 1000L).cast(f.dataType)
             else timestamp_micros(lit(us)).cast(f.dataType)).as("ts")
          case other => col(other)
        }
      }: _*)
    def sentinels(idBase: Long, us: Long): DataFrame =
      sentinel(idBase, us, "click").unionByName(sentinel(idBase - 1, us, "purchase"))
    val s1Us = maxUs + (3600L + 1800L + 1800L + 120L) * 1000000L
    val s2Us = s1Us + 3600L * 1000000L
    drainStagedFiles(
      s, Seq(src, sentinels(-1L, s1Us), sentinels(-3L, s2Us)),
      prefix, "append", shufflePartitions = Some("8")) { stream =>
      def side(tpe: String, user: String, id: String, ts: String): DataFrame =
        stream.filter(col("event_type") === tpe)
          .select(col("user_id").as(user), col("event_id").as(id),
            eventTs(stream).cast("timestamp").as(ts))
      graft.streaming.StreamingJobs.attributionJoin(
        side("click", "c_user", "click_id", "click_ts"),
        side("purchase", "p_user", "purchase_id", "purchase_ts"),
        joinType = joinType)
    }.filter(col("user_id") >= 0)
  }

  /** A11: per-key discrete percentiles (DuckDB `quantile_disc` parity:
    * smallest v with cum_count ≥ ⌈q·n⌉) WITHOUT sorting the corpus — the
    * cumulative window runs over the per-key DISTINCT-VALUE histogram,
    * so a 100 TB fact table reduces to (key, value) cardinality before
    * anything orders; the t26 scoreBuckets argument, surfaced as the
    * percentile-summary operator. `cum·100 ≥ tot·q` keeps the threshold
    * in exact integer arithmetic (no ceil, no doubles); the price values
    * themselves pass through MIN untouched. */
  val a11Percentiles: Q = (s, d) =>
    graft.operators.Percentiles.perKey(
      lineitem(s, d).select(col("l_returnflag").as("flag"),
        col("l_extendedprice")),
      "flag", "l_extendedprice", Seq(50, 90, 99))

  /** A23: robust per-key outlier detection via median/MAD
    * ([[graft.operators.Percentiles.madOutliers]]) — both medians are the
    * DISCRETE quantile (a11 construction), so no interpolation exists
    * anywhere; the fact never shuffles (two histogram aggs + two
    * broadcast joins of the tiny per-key stats). The estimator a z-score
    * can't be: one wild value moves a mean arbitrarily, a median by one
    * rank — the standard quality gate for heavy-tailed training-data
    * score columns. */
  val a23MadOutliers: Q = (s, d) =>
    graft.operators.Percentiles.madOutliers(
      events(s, d).select(col("event_type"), col("value")),
      "event_type", "value", k = 3.0)

  /** A26: exact per-key MODE — the most frequent value, ties to the
    * smallest (a total order, so oracle-exact): the categorical
    * summary statistic (dominant event value per type). Histogram agg
    * then one row_number over (count desc, value asc) — window input is
    * the histogram, never the fact (the a25/a11 scale argument). */
  val a26ModePerKey: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val hist = events(s, d)
      .select(col("event_type"), (col("event_id") % 100).as("v"))
      .groupBy("event_type", "v").agg(count(lit(1)).as("n"))
    val w = Window.partitionBy("event_type")
      .orderBy(col("n").desc, col("v").asc)
    hist.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("event_type"), col("v").as("mode_v"), col("n").as("mode_n"))
  }

  /** A25: per-key WEIGHTED discrete quantiles ([[graft.operators
    * .Percentiles.weightedPerKey]]) — "the median TOKEN's quality band",
    * not "the median document's": cumulative-weight thresholds over the
    * (key, value) histogram, exact integer arithmetic end to end
    * (weights are closed-form integers here; total_w rides along as the
    * sanity twin). */
  val a25WeightedQuantiles: Q = (s, d) =>
    graft.operators.Percentiles.weightedPerKey(
      events(s, d).select(
        col("event_type"),
        (col("event_id") % 1000).as("v"),
        (col("event_id") % 7 + 1).as("w")),
      "event_type", "v", "w", percents = Seq(25, 50, 90))

  /** W10: trailing-window anomaly gate — rows whose value exceeds 2× the
    * average of the preceding ≤5 events of the same user. The frame
    * aggregate is an exact-decimal SUM and the compare is MULTIPLIED
    * THROUGH (value·cnt > 2·sum) so the per-row verdict is
    * order-identical in any engine — no windowed double accumulation, no
    * division. One shuffle on user_id; the frame is O(1) per row. */
  val w10TrailingAnomaly: Q = (s, d) => {
    val ev = events(s, d)
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts").asc, col("event_id").asc)
      .rowsBetween(-5, -1)
    ev.select(col("user_id"), eventTs(ev).as("ts"), col("event_id"),
        col("value"))
      .withColumn("__sum", sum(col("value").cast(DecimalType(18, 2))).over(w))
      .withColumn("__cnt", count(lit(1)).over(w))
      .filter(col("__cnt") >= 3 &&
        col("value").cast(DecimalType(18, 2)) * col("__cnt") >
          col("__sum") * 2)
      .select(col("user_id"), col("event_id"), col("value"),
        col("__cnt").as("n_trailing"),
        col("__sum").cast("double").as("trailing_sum"))
  }

  /** W11: fill-forward (LOCF — last observation carried forward): sparse
    * measurements (here: `value` published only on purchase/error events)
    * propagate to every later event of the same user via
    * `last_value(ignoreNulls)` over an unbounded-preceding frame — the
    * gap-filling primitive for sensor/price/feature series. One user_id
    * exchange; the frame is cumulative, not re-scanned per row. */
  val w11FillForward: Q = (s, d) => {
    val ev = events(s, d)
    val sparse = when(col("event_type").isin("purchase", "error"), col("value"))
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts").asc, col("event_id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ev.select(col("user_id"), eventTs(ev).as("ts"), col("event_id"),
        col("event_type"), sparse.as("sparse_v"))
      .withColumn("filled", last(col("sparse_v"), ignoreNulls = true).over(w))
      .select(col("user_id"), col("event_id"), col("sparse_v"), col("filled"))
  }

  /** J9: interval/range join via [[graft.operators.IntervalJoin]] — for
    * each click, how many purchase price-bands (value ± 1) contain its
    * value. A naive `BETWEEN` join plans as a nested loop (quadratic
    * rescans); the operator buckets the number line (width = band width)
    * and EQUI-joins on the bucket, refine-filtering after — PlanSpec
    * asserts no nested-loop/cartesian survives. Count grouped per click
    * so the output stays bounded at any SF. */
  val j9IntervalJoin: Q = (s, d) => {
    val ev = events(s, d)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id"), col("value"))
    val bands = ev.filter(col("event_type") === "purchase")
      .select((col("value") - 1).as("lo"), (col("value") + 1).as("hi"))
    graft.operators.IntervalJoin
      .pointInInterval(clicks, "value", bands, "lo", "hi", bucketWidth = 2.0)
      .groupBy("event_id")
      .agg(count(lit(1)).as("n_bands"))
  }

  /** W7: first-touch / last-touch attribution — first_value and
    * last_value over the full per-user frame (explicit
    * unbounded-to-unbounded bounds: last_value's DEFAULT frame ends at
    * the current row, the classic silent-wrong-answer). One row per
    * event, deterministic order key. */
  val w7FirstTouch: Q = (s, d) => {
    val w = Window.partitionBy("user_id").orderBy(col("ts").asc, col("event_id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    events(s, d)
      .filter(col("event_id") < 3000)
      .select(
        col("user_id"), col("event_id"),
        first(col("event_type")).over(w).as("first_touch"),
        last(col("event_type")).over(w).as("last_touch"))
  }

  /** A14: 7-day rolling distinct users (rolling DAU) — the windowed
    * DISTINCT aggregate no engine can merge incrementally, made linear by
    * the EXPANSION trick: each (user, active-day) pair contributes to the
    * 7 windows ending on day..day+6, so explode ×7, clip to observed
    * days (broadcast — day cardinality is tiny), distinct, count. At
    * 100 TB the input to the explode is the already-distinct (user, day)
    * frame, never raw events, and nothing ever holds a per-window
    * distinct set. */
  val a14RollingDau: Q = (s, d) => {
    val ev = events(s, d)
    val act = ev.select(col("user_id"), to_date(eventTs(ev)).as("day")).distinct()
    val days = act.select("day").distinct()
    act
      .withColumn("day", explode(sequence(col("day"), date_add(col("day"), 6))))
      .join(broadcast(days), Seq("day"), "left_semi")
      .distinct()
      .groupBy(date_format(col("day"), "yyyy-MM-dd").as("day"))
      .agg(count(lit(1)).as("dau7"))
  }

  /** A15: ordered-funnel conversion (signup → click → purchase, each
    * step strictly AFTER the user's previous step) — the product-
    * analytics sequence-match operator, built as CHAINED CONDITIONAL
    * MINIMA: stage k is one filter + join-on-user + min-aggregate over
    * stage k−1's frontier timestamps. Three narrow shuffles on user_id,
    * no per-user event-list collection, no window over raw events —
    * the only shape that holds when one user has millions of events.
    * Reports reached-users per stage. */
  val a15FunnelConversion: Q = (s, d) => {
    val ev = events(s, d).select(col("user_id"), col("ts"), col("event_type"))
    val s1 = ev.filter(col("event_type") === "signup")
      .groupBy("user_id").agg(min("ts").as("t1"))
    val s2 = ev.filter(col("event_type") === "click")
      .join(s1, Seq("user_id")).filter(col("ts") > col("t1"))
      .groupBy("user_id").agg(min("ts").as("t2"))
    val s3 = ev.filter(col("event_type") === "purchase")
      .join(s2, Seq("user_id")).filter(col("ts") > col("t2"))
      .groupBy("user_id").agg(min("ts").as("t3"))
    import s.implicits._
    Seq(
      (1, "signup", s1.count()),
      (2, "click_after_signup", s2.count()),
      (3, "purchase_after_click", s3.count()))
      .toDF("stage", "step", "n_users")
  }

  /** A16: day-7 retention cohorts — users grouped by first-activity day,
    * retained = active exactly 7 days later. Two user-keyed aggregations
    * and one join on the distinct (user, day) frame; no per-cohort
    * scanning, linear at any event volume. */
  val a16RetentionCohorts: Q = (s, d) => {
    val ev = events(s, d)
    val act = ev.select(col("user_id"), to_date(eventTs(ev)).as("day")).distinct()
    val first = act.groupBy("user_id").agg(min("day").as("cohort"))
    first.join(act, Seq("user_id"))
      .groupBy("user_id", "cohort")
      .agg(max(when(col("day") === date_add(col("cohort"), 7), 1L)
        .otherwise(0L)).as("d7"))
      .groupBy(date_format(col("cohort"), "yyyy-MM-dd").as("cohort"))
      .agg(count(lit(1)).as("n_users"), sum("d7").as("retained_d7"))
  }

  /** A21: exponentially time-decayed event counts
    * ([[graft.operators.EventOps.decayedCounts]]) — freshness-weighted
    * frequency per event type (half-life 7 days as of 2024-02-01). The
    * quantized weights ride as exact scaled longs (2^(18−k)), so the
    * aggregation is order-independent integer arithmetic and the
    * decayed total is ONE IEEE division — hash-stable against the
    * oracle's identical CASE chain (a double sum, or even a
    * decimal→double cast, differs in the last ulp across engines —
    * measured, not theoretical). */
  val a21DecayedCounts: Q = (s, d) => {
    val ev = events(s, d)
    graft.operators.EventOps.decayedCounts(
      ev.select(col("event_type"), eventTs(ev).as("ts")),
      "event_type", "ts", asOfDate = "2024-02-01", halfLifeDays = 7)
  }

  /** G1: PageRank over the event-type transition digraph
    * ([[graft.operators.Graph.pageRank]], exact mode) — the iterative
    * graph family (crawl-graph authority ranking at corpus scale):
    * edges are consecutive event-type transitions per user (ts order,
    * event_id tie-break) with multiplicity weights; 5 damped iterations
    * from the uniform vector. Oracle-exact because every float op is
    * fixed-order: contributions are one multiply + one divide each and
    * fold left-to-right in `src` order (`aggregate(array_sort(...))` ≡
    * DuckDB `list_reduce(list(... ORDER BY src))`), and integral edge
    * weights make out-degree sums exact. The unrolled-CTE oracle mirrors
    * each iteration literally. */
  val g1Pagerank: Q = (s, d) => {
    val ev = events(s, d)
    val seq = ev.select(col("user_id"), eventTs(ev).as("ts"),
      col("event_id"), col("event_type"))
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val edges = seq
      .withColumn("prev", lag("event_type", 1).over(w))
      .filter(col("prev").isNotNull)
      .groupBy(col("prev").as("src"), col("event_type").as("dst"))
      .agg(count(lit(1)).as("w"))
    // checkpoint=true: the edge-derivation subtree (scan + lag window +
    // groupBy) is referenced by every unrolled iteration — materializing
    // it once cuts the plan from 10+ re-scans to one; float results are
    // identical (materialization changes nothing the oracle can see)
    graft.operators.Graph.pageRank(
      edges, "src", "dst", "w", iterations = 5, damping = 0.85,
      exact = true, checkpoint = true)
  }

  /** G2: PERSONALIZED PageRank over the same transition digraph as g1
    * ([[graft.operators.Graph.personalizedPageRank]], exact mode) —
    * teleport mass restricted to the 'signup' node (topic-sensitive
    * ranking: "authority relative to the signup flow"). Same
    * bitwise-mirrorable arithmetic as g1; the oracle's teleport column
    * is a CASE on the seed node. */
  val g2PersonalizedPagerank: Q = (s, d) => {
    val ev = events(s, d)
    val seq = ev.select(col("user_id"), eventTs(ev).as("ts"),
      col("event_id"), col("event_type"))
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val edges = seq
      .withColumn("prev", lag("event_type", 1).over(w))
      .filter(col("prev").isNotNull)
      .groupBy(col("prev").as("src"), col("event_type").as("dst"))
      .agg(count(lit(1)).as("w"))
    import s.implicits._
    graft.operators.Graph.personalizedPageRank(
      edges, "src", "dst", "w", Seq("signup").toDF("node"), "node",
      iterations = 5, damping = 0.85, exact = true)
  }

  /** G3: CONVERGENCE-LOOPED PageRank ([[graft.operators.Graph.pageRankConverged]],
    * exact mode) — the production stopping rule in the hard gate: blocks
    * of 5 iterations, stop when the max rank delta < 1e-9. On this
    * corpus the transition graph's delta at the first probe is ~1.6e-12
    * (measured), so the loop deterministically stops after 10
    * iterations; the oracle mirrors 10 unrolled CTE iterations plus the
    * literal step count. Exact mode makes the delta — and therefore the
    * STEP COUNT — bitwise-reproducible, not just the ranks. */
  val g3ConvergedPagerank: Q = (s, d) => {
    val ev = events(s, d)
    val seq = ev.select(col("user_id"), eventTs(ev).as("ts"),
      col("event_id"), col("event_type"))
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val edges = seq
      .withColumn("prev", lag("event_type", 1).over(w))
      .filter(col("prev").isNotNull)
      .groupBy(col("prev").as("src"), col("event_type").as("dst"))
      .agg(count(lit(1)).as("w"))
    val (ranks, iters) = graft.operators.Graph.pageRankConverged(
      edges, "src", "dst", "w", tol = 1e-9, maxIterations = 20,
      damping = 0.85, blockIters = 5, exact = true)
    ranks.withColumn("iterations", lit(iters.toLong))
  }

  /** The part co-occurrence graph: an undirected edge between two parts
    * whenever they appear in the same order — the market-basket /
    * knowledge-graph projection whose node degrees are bounded by basket
    * size × part popularity, not corpus size. Pair enumeration is
    * per-order (baskets are small: C(lines, 2) each), distinct'd on the
    * pair. */
  private[graft] def partCooccurrence(s: SparkSession, d: String): DataFrame = {
    val lp = lineitem(s, d)
      .select(col("l_orderkey").as("okey"), col("l_partkey").as("pk"))
      .distinct()
    lp.as("x").join(lp.as("y"),
        col("x.okey") === col("y.okey") && col("x.pk") < col("y.pk"))
      .select(col("x.pk").as("src"), col("y.pk").as("dst"))
      .distinct()
  }

  /** G4: triangle participation counts over the part co-occurrence graph
    * ([[graft.operators.Graph.triangleCounts]]) — the clustering-signal
    * primitive (community density, spam-graph detection). The operator
    * enumerates via the degree-ordered wedge join (out-neighborhoods
    * bounded O(√m) under any skew); the oracle enumerates the SAME
    * triangle set by plain id order — orientation-invariance is the
    * correctness claim the gate checks. Top 20 nodes by count. */
  val g4TriangleCount: Q = (s, d) =>
    graft.operators.Graph
      .triangleCounts(partCooccurrence(s, d), "src", "dst", checkpoint = true)
      .orderBy(col("n_triangles").desc, col("node").asc)
      .limit(20)

  /** G5: common-neighbor link scores for existing edges
    * ([[graft.operators.Graph.edgeCommonNeighbors]]) — link prediction /
    * edge-strength ranking. cn = triangles through the edge (integer),
    * Jaccard = one integer-fed IEEE division, bitwise-mirrorable. Top 20
    * edges by cn. */
  val g5CommonNeighbors: Q = (s, d) =>
    graft.operators.Graph
      .edgeCommonNeighbors(partCooccurrence(s, d), "src", "dst", checkpoint = true)
      .orderBy(col("cn").desc, col("a").asc, col("b").asc)
      .limit(20)

  /** G6: multi-source BFS hop distance ([[graft.operators.Graph
    * .hopDistance]]) — customer 1's purchased parts as the seed set,
    * expanded ≤3 hops through the (symmetrized) part co-occurrence
    * graph: the market-basket neighborhood expander ("what's within k
    * co-purchase hops of this basket"), and the same shape as crawl
    * frontiers and contamination blast-radius sweeps. Frontier-only
    * joins per round; exact integer distances, so the recursive-CTE
    * oracle matches row-for-row. */
  val g6HopDistance: Q = (s, d) => {
    val co = partCooccurrence(s, d)
    val undirected =
      co.union(co.select(col("dst").as("src"), col("src").as("dst")))
    val seeds = lineitem(s, d)
      .join(orders(s, d).filter(col("o_custkey") === 1L),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("l_partkey").as("pk")).distinct()
    // checkpoint=true: the 8.7M-pair co-occurrence self-join would
    // otherwise re-derive on every frontier expansion (measured 3× the
    // query wall at sf0.1)
    graft.operators.Graph.hopDistance(
      undirected, "src", "dst", seeds, "pk", maxHops = 3, checkpoint = true)
      .select(col("node"), col("dist"))
  }

  /** G7: bounded min-label propagation over the part co-occurrence graph
    * ([[graft.operators.Graph.minLabelPropagation]]) — 4 synchronous
    * rounds of `label ← min(label, neighbors' labels)` from id-valued
    * seeds: the fixed-round core of connected components / community
    * seeding, chosen over the convergence loop precisely because the
    * k-round result is a closed form DuckDB can replay via an unrolled
    * CTE (the g1 oracle argument). One edge⋈label join + one MIN agg per
    * round, lineage checkpointed. */
  val g7MinLabelProp: Q = (s, d) => {
    val co = partCooccurrence(s, d)
    val undirected =
      co.union(co.select(col("dst").as("src"), col("src").as("dst")))
    graft.operators.Graph.minLabelPropagation(
      undirected, "src", "dst", iterations = 4, checkpoint = true)
  }

  /** G9: run-to-convergence connected components ([[graft.operators
    * .Graph.connectedComponents]], min-label pointer jumping) — the
    * O(log n)-round CC that complements g7's bounded-round form. The
    * graph is 50-doc CHAINS (doc i → i+1 within each block): diameter
    * 49 means g7's 4 plain rounds could never finish, so the query
    * actually exercises the label-of-my-label squaring AND the fixpoint
    * detection; the components are a closed form DuckDB states directly
    * (label = block start). */
  val g9ConnectedComponents: Q = (s, d) => {
    // semi-join dst back onto the table: a corpus whose size is not a
    // multiple of 50 must not manufacture a phantom node past the last
    // doc (the oracle only states labels for real doc_ids)
    val e = documents(s, d).select(col("doc_id").as("src"))
      .filter(col("src") % 50 =!= 49)
      .withColumn("dst", col("src") + 1)
      .join(documents(s, d).select(col("doc_id").as("dst")), Seq("dst"), "left_semi")
      // self-loops keep a trailing singleton block's doc in the node set
      // (labels are unaffected: a self edge contributes the node's own id)
      .unionByName(documents(s, d).select(col("doc_id").as("src"),
        col("doc_id").as("dst")))
    graft.operators.Graph.connectedComponents(e, "src", "dst")
  }

  /** G8: HITS hubs/authorities ([[graft.operators.Graph.hits]]) — 2
    * unnormalized rounds on the bipartite customer→part purchase graph
    * (hubs = customers weighted by what they buy, authorities = parts
    * weighted by who buys them — the authority-ranking shape curation
    * uses on actor→domain graphs). Every score is an exact BIGINT, so
    * the oracle is the same update unrolled as two join+SUM CTEs.
    * Top-20 parts by authority. */
  val g8Hits: Q = (s, d) => {
    val e = orders(s, d)
      .join(lineitem(s, d), col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("c"), col("l_partkey").as("p"))
    graft.operators.Graph.hits(e, "c", "p", rounds = 2)
      .filter(col("authority") > 0)
      .select(col("node"), col("authority"))
      .orderBy(col("authority").desc, col("node").asc)
      .limit(20)
  }

  /** X4: EXCEPT ALL — multiset difference (each occurrence consumes one
    * match, unlike X1's set EXCEPT): day-1 user activity minus day-2,
    * multiplicity-aware. */
  val x4ExceptAll: Q = (s, d) => {
    val ev = events(s, d)
    def day(dt: String) =
      ev.filter(to_date(eventTs(ev)) === lit(dt)).select("user_id", "event_type")
    day("2024-01-01").exceptAll(day("2024-01-02"))
  }

  /** X5: INTERSECT ALL — multiset intersection (min of the two
    * multiplicities survives, the dual of x4's EXCEPT ALL): user activity
    * present on BOTH days, multiplicity-aware. Spark plans this as one
    * count-compare aggregation, not a join explosion. */
  val x5IntersectAll: Q = (s, d) => {
    val ev = events(s, d)
    def day(dt: String) =
      ev.filter(to_date(eventTs(ev)) === lit(dt)).select("user_id", "event_type")
    day("2024-01-01").intersectAll(day("2024-01-02"))
  }

  /** J10: interval-OVERLAP join ([[graft.operators.IntervalJoin
    * .intervalOverlap]]) — purchase price bands (±2) against click price
    * bands (±1), counted per purchase. The exactly-once construction
    * (each pair claimed in the bucket of max(lo, lo) only) means no
    * distinct pass follows the bucket join; property-tested against the
    * naive overlap join. */
  val j10OverlapJoin: Q = (s, d) => {
    val ev = events(s, d)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"),
        (col("value") - 2).as("p_lo"), (col("value") + 2).as("p_hi"))
    val clicks = ev.filter(col("event_type") === "click")
      .select((col("value") - 1).as("c_lo"), (col("value") + 1).as("c_hi"))
    graft.operators.IntervalJoin
      .intervalOverlap(purchases, "p_lo", "p_hi", clicks, "c_lo", "c_hi",
        bucketWidth = 4.0)
      .groupBy("p_id")
      .agg(count(lit(1)).as("n_overlaps"))
  }

  /** W6: rank-distribution windows — percent_rank / cume_dist / ntile
    * per event_type over (value, event_id). Both engines define
    * percent_rank = (rank−1)/(n−1) and cume_dist = peers_cum/n as one
    * IEEE division over exact integer ranks, and ntile splits the first
    * n%k buckets one-larger — so all three hash-match. The unique
    * (value, event_id) order key makes every rank deterministic. */
  val w6RankDistributions: Q = (s, d) => {
    val w = Window.partitionBy("event_type").orderBy(col("value").asc, col("event_id").asc)
    events(s, d)
      .filter(col("event_id") < 2000)
      .select(
        col("event_id"), col("event_type"),
        percent_rank().over(w).as("pr"),
        cume_dist().over(w).as("cd"),
        ntile(4).over(w).cast("long").as("quartile"))
  }

  /** A13: GROUPING SETS — per-status and per-priority rollups plus the
    * grand total in ONE pass (the monitoring dashboard shape; distinct
    * from a10's ROLLUP lattice). Plans as a single expand + partial-agg
    * groupBy — no union of three scans. */
  val a13GroupingSets: Q = (s, d) =>
    orders(s, d)
      .groupingSets(
        Seq(Seq(col("o_orderstatus")), Seq(col("o_orderpriority")), Seq()),
        col("o_orderstatus"), col("o_orderpriority"))
      .agg(
        count(lit(1)).as("n"),
        sum(when(col("o_totalprice") > 100000, 1L).otherwise(0L)).as("n_big"))

  /** A24: full CUBE rollup — all four grouping combinations of
    * (status, priority) in ONE Expand-based aggregation pass (a13's
    * grouping-sets machinery at its densest: 2^k sets), with
    * `grouping_id` disambiguating the null-as-ALL rows from genuine
    * nulls. One scan, one expanded exchange — never k separate
    * aggregations unioned. */
  val a24Cube: Q = (s, d) =>
    orders(s, d)
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(
        grouping_id().as("gid"),
        count(lit(1)).as("n"),
        dsum(col("o_totalprice")).as("total"))

  /** O3: top-k per group — the generalized f2 (latest-per-key is k=1):
    * the 3 highest-value events of each type via row_number over a
    * (value desc, event_id) total order. The shape that replaces a
    * global sort at 100 TB: one hash exchange on the group key, a
    * per-partition sort, and the filter prunes everything past rank k
    * before anything else sees it. */
  val o3TopkPerGroup: Q = (s, d) => {
    val w = Window.partitionBy("event_type")
      .orderBy(col("value").desc, col("event_id").asc)
    events(s, d)
      .select(col("event_type"), col("event_id"), col("value"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
  }

  /** W5: rolling time-window count per event — a RANGE frame over epoch
    * seconds (preceding 3600 s inclusive), the rate/velocity feature shape
    * (events-per-user-per-hour at every event). Range frames are the one
    * window kind where ties matter: all rows whose key falls inside the
    * bound join the frame regardless of row position, so Spark and the
    * oracle agree without a tiebreaker. Same single user_id exchange as
    * w3/w4. */
  val w5RollingCounts: Q = (s, d) => {
    val ev = events(s, d)
    val sec = unix_timestamp(eventTs(ev))
    val w = Window.partitionBy("user_id").orderBy(col("sec"))
      .rangeBetween(-3600L, Window.currentRow)
    ev.select(col("user_id"), col("event_id"), sec.as("sec"))
      .withColumn("n_1h", count(lit(1)).over(w))
      .select("user_id", "event_id", "n_1h")
  }

  /** A12: PIVOT — day × event_type count matrix with an EXPLICIT value
    * list (the reference's per-type daily monitoring rollup, columnar).
    * The explicit list matters at scale: without it Spark runs an extra
    * distinct-collect job over the corpus to discover columns; with it
    * the pivot is one pass, and the plan is a plain partial-agg groupBy.
    * Absent combinations surface as 0 (na.fill), matching the oracle's
    * conditional sums. */
  val a12Pivot: Q = (s, d) => {
    val ev = events(s, d)
    ev.groupBy(date_format(eventTs(ev), "yyyy-MM-dd").as("day"))
      .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
      .agg(count(lit(1)))
      .na.fill(0L)
  }

  /** Exact revenue term: decimal product of price × (1 − discount), the
    * a2 sum_disc_price construction (order-independent, oracle-exact). */
  private def revenue =
    col("l_extendedprice").cast(DecimalType(18, 2)) *
      (lit(1).cast(DecimalType(18, 2)) - col("l_discount").cast(DecimalType(18, 2)))

  /** J12: the TPC-H Q3 shipping-priority shape — 3-way selective join
    * (filtered customer segment ⋈ orders ⋈ lineitem) → revenue rollup →
    * top-10. The classic OLAP plan: filters push into every scan, the
    * filtered customer side broadcasts, the orders⋈lineitem equi join
    * shuffles on the orderkey, TakeOrderedAndProject keeps 10. */
  val j12ShippingPriority: Q = (s, d) => {
    val cutoff = lit("1998-06-30").cast("timestamp")
    val c = customer(s, d).filter(col("c_mktsegment") === "BUILDING")
      .select("c_custkey")
    val o = orders(s, d).filter(col("o_orderdate") < cutoff)
      .select("o_orderkey", "o_custkey", "o_orderdate")
    val l = lineitem(s, d).filter(col("l_shipdate") > cutoff)
      .select("l_orderkey", "l_extendedprice", "l_discount")
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .groupBy(col("l_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("order_date"))
      .agg(sum(revenue).cast("double").as("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey").asc)
      .limit(10)
  }

  /** J13: the TPC-H Q5 local-supplier-volume shape — a 6-table star
    * (region→nation→{customer,supplier}→orders→lineitem) with the
    * same-nation customer/supplier constraint, rolled up per nation.
    * The three dim tables (region/nation/supplier) broadcast; the two
    * fact joins shuffle on their keys once each. */
  val j13LocalSupplierVolume: Q = (s, d) => {
    val asia = nation(s, d)
      .join(broadcast(region(s, d).filter(col("r_name") === "ASIA")),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey"), col("n_name"))
    val c = customer(s, d).select("c_custkey", "c_nationkey")
    val o = orders(s, d)
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
      .select("o_orderkey", "o_custkey")
    val l = lineitem(s, d).select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
    val sup = supplier(s, d).select("s_suppkey", "s_nationkey")
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .filter(col("c_nationkey") === col("s_nationkey")) // local supplier
      .join(broadcast(asia), col("s_nationkey") === col("n_nationkey"))
      .groupBy("n_name")
      .agg(sum(revenue).cast("double").as("revenue"),
        count(lit(1)).as("n_items"))
  }

  /** J22: the TPC-H Q7 cross-nation volume-shipping shape — bilateral
    * trade between two nations by ship year: lineitem (2-year shipdate
    * slice, filter pushed to the scan) ⋈ orders ⋈ customer, supplier
    * and BOTH nation roles broadcast (each pre-filtered to the two
    * nations — 2 rows each — so the asymmetric-pair predicate runs on a
    * tiny cross of roles, never the fact), revenue in exact decimal,
    * grouped by (supp_nation, cust_nation, year). The classic
    * self-joined-dimension plan j12–j21 don't cover: one dimension
    * table playing TWO roles in the same query. */
  val j22VolumeShipping: Q = (s, d) => {
    val nations = Seq("NATION_1", "NATION_2")
    val n1 = nation(s, d).filter(col("n_name").isin(nations: _*))
      .select(col("n_nationkey").as("sk"), col("n_name").as("supp_nation"))
    val n2 = nation(s, d).filter(col("n_name").isin(nations: _*))
      .select(col("n_nationkey").as("ck"), col("n_name").as("cust_nation"))
    lineitem(s, d)
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
      .join(orders(s, d).select("o_orderkey", "o_custkey"),
        col("l_orderkey") === col("o_orderkey"))
      .join(customer(s, d).select("c_custkey", "c_nationkey"),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(supplier(s, d).select("s_suppkey", "s_nationkey")),
        col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(n1), col("s_nationkey") === col("sk"))
      .join(broadcast(n2), col("c_nationkey") === col("ck"))
      .filter(col("supp_nation") =!= col("cust_nation"))
      .groupBy(col("supp_nation"), col("cust_nation"),
        year(col("l_shipdate")).cast("long").as("l_year"))
      .agg(sum(revenue).cast("double").as("revenue"),
        count(lit(1)).as("n_items"))
  }

  /** J23: the TPC-H Q17 small-quantity-order shape — a per-key aggregate
    * feeding a threshold predicate back onto the SAME fact rows: lineitem
    * is semi-joined to the (broadcast, ~13-row) filtered part dim first so
    * the per-part average is computed only over surviving parts, then the
    * tiny per-part (sum, count) frame broadcasts back onto the fact. The
    * Q17 `qty < 0.2·avg` predicate is applied MULTIPLIED THROUGH
    * (qty·cnt·5 < sum) so both engines compare exact decimals with no
    * division anywhere; the single final `/7.0` happens once, on a double,
    * after the exact-decimal revenue sum. */
  val j23SmallQtyOrders: Q = (s, d) => {
    val pk = part(s, d)
      .filter(col("p_brand") === "Brand#23" && col("p_type") === "PROMO")
      .select("p_partkey")
    val l = lineitem(s, d)
      .select("l_partkey", "l_quantity", "l_extendedprice")
      .join(broadcast(pk), col("l_partkey") === col("p_partkey"))
      .drop("p_partkey")
    val per = l.groupBy("l_partkey")
      .agg(sum(col("l_quantity").cast(DecimalType(18, 2))).as("qty_sum"),
        count(lit(1)).as("qty_cnt"))
    l.join(broadcast(per), Seq("l_partkey"))
      .filter(col("l_quantity").cast(DecimalType(18, 2)) * col("qty_cnt") * 5 <
        col("qty_sum"))
      .agg(count(lit(1)).as("n_small"),
        (sum(col("l_extendedprice").cast(DecimalType(18, 2))).cast("double") / 7.0)
          .as("avg_yearly"))
  }

  /** J24: the TPC-H Q22 global-scalar + anti-join shape — customers whose
    * balance beats the global positive-balance average AND who have not
    * ordered recently (the date slice keeps the anti-join non-vacuous on
    * the synthetic data), rolled up per nation. The global (sum, count)
    * pair is a 1-row crossJoin broadcast; `bal > avg` is multiplied
    * through (bal·cnt > sum, exact decimals, no division); the "no recent
    * orders" arm is a left-anti join against a date-filtered orders
    * custkey projection (filter pushed below the join build). */
  val j24NoOrderRich: Q = (s, d) => {
    val c = customer(s, d).select("c_custkey", "c_nationkey", "c_acctbal")
    val glob = c.filter(col("c_acctbal") > 0)
      .agg(sum(col("c_acctbal").cast(DecimalType(18, 2))).as("bal_sum"),
        count(lit(1)).as("bal_cnt"))
    c.crossJoin(broadcast(glob))
      .filter(col("c_acctbal").cast(DecimalType(18, 2)) * col("bal_cnt") >
        col("bal_sum"))
      .join(orders(s, d)
          .filter(col("o_orderdate") >= lit("2000-01-01").cast("timestamp"))
          .select("o_custkey"),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy(col("c_nationkey").cast(LongType).as("nationkey"))
      .agg(count(lit(1)).as("n_cust"), dsum(col("c_acctbal")).as("total_bal"))
  }

  /** J25: the TPC-H Q13 order-count-distribution shape — the one classic
    * plan built on a LEFT OUTER join: every customer kept, orders filtered
    * BEFORE the join (priority slice), `count(o_orderkey)` counting only
    * matched rows (0 for order-less customers), then a second aggregation
    * over the first's result (the histogram-of-a-groupBy pattern). */
  val j25OrderCountDist: Q = (s, d) => {
    val o = orders(s, d).filter(col("o_orderpriority") =!= "1-URGENT")
      .select("o_orderkey", "o_custkey")
    customer(s, d).select("c_custkey")
      .join(o, col("c_custkey") === col("o_custkey"), "left_outer")
      .groupBy("c_custkey")
      .agg(count(col("o_orderkey")).as("c_count"))
      .groupBy("c_count")
      .agg(count(lit(1)).as("custdist"))
  }

  /** J26: the TPC-H Q16 supplier-count shape — COUNT(DISTINCT) over a
    * derived part↔supplier relation (lineitem's (partkey, suppkey) pairs
    * stand in for partsupp) with an anti-join excluding flagged suppliers
    * (negative balance = the "complaints" arm). The distinct-pair frame
    * shuffles once on its natural key; the 2000-row part dim and the
    * flagged-supplier set broadcast. */
  val j26SupplierCnt: Q = (s, d) => {
    val bad = supplier(s, d).filter(col("s_acctbal") < 0).select("s_suppkey")
    val ps = lineitem(s, d).select("l_partkey", "l_suppkey").distinct()
      .join(broadcast(bad), col("l_suppkey") === col("s_suppkey"), "left_anti")
    val p = part(s, d)
      .filter(col("p_brand") =!= "Brand#1" && !col("p_type").startsWith("MEDIUM") &&
        col("p_size").isin(1, 9, 17, 25, 33, 41, 49))
      .select("p_partkey", "p_brand", "p_type", "p_size")
    ps.join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .groupBy("p_brand", "p_type", "p_size")
      .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
  }

  /** J27: the TPC-H Q11 share-of-global-total shape — per-part revenue
    * restricted to one nation's suppliers, kept only when the part's
    * share exceeds 0.1% of the total: two aggregations over the same
    * frame, the 1-row total crossJoin-broadcast back, and the HAVING
    * predicate multiplied through (value·1000 > total — exact decimals,
    * no division). The nation→supplier semi side broadcasts. */
  val j27ValueShare: Q = (s, d) => {
    val natSup = supplier(s, d)
      .join(broadcast(nation(s, d).filter(col("n_name") === "NATION_3")),
        col("s_nationkey") === col("n_nationkey"))
      .select("s_suppkey")
    val l = lineitem(s, d)
      .select("l_partkey", "l_suppkey", "l_extendedprice", "l_discount")
      .join(broadcast(natSup), col("l_suppkey") === col("s_suppkey"), "left_semi")
    val per = l.groupBy("l_partkey").agg(sum(revenue).as("value_dec"))
    per.crossJoin(broadcast(per.agg(sum(col("value_dec")).as("total_dec"))))
      .filter(col("value_dec") * 1000 > col("total_dec"))
      .select(col("l_partkey"), col("value_dec").cast("double").as("part_value"))
  }

  /** J28: the TPC-H Q19 disjunctive-predicate shape — one equi join whose
    * residual filter is an OR of three brand/size/quantity conjunctions.
    * The planner must keep the partkey equi-condition as the join key and
    * evaluate the disjunction as a post-join filter (not fall back to a
    * nested-loop); part broadcasts. */
  val j28DisjunctivePred: Q = (s, d) => {
    val p = part(s, d).select("p_partkey", "p_brand", "p_size")
    val j = lineitem(s, d)
      .select("l_partkey", "l_quantity", "l_extendedprice", "l_discount")
      .join(broadcast(p), col("l_partkey") === col("p_partkey"))
    j.filter(
      (col("p_brand") === "Brand#12" && col("p_size").between(1, 5) &&
        col("l_quantity").between(1, 11)) ||
      (col("p_brand") === "Brand#23" && col("p_size").between(1, 10) &&
        col("l_quantity").between(10, 20)) ||
      (col("p_brand") === "Brand#15" && col("p_size").between(1, 15) &&
        col("l_quantity").between(20, 30)))
      .agg(sum(revenue).cast("double").as("revenue"),
        count(lit(1)).as("n_items"))
  }

  /** J29: the TPC-H Q14 promo-revenue-share shape — conditional
    * aggregation KEYED BY A DIMENSION ATTRIBUTE after the join (SUM(CASE
    * WHEN p_type...)): both the promo slice and the total accumulate in
    * one pass over the joined frame as exact decimals; the percentage is
    * ONE double division at the very end. Part broadcasts; the date
    * slice pushes to the lineitem scan. */
  val j29PromoShare: Q = (s, d) => {
    val p = part(s, d).select("p_partkey", "p_type")
    lineitem(s, d)
      .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-04-01").cast("timestamp"))
      .select("l_partkey", "l_extendedprice", "l_discount")
      .join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .agg(
        sum(when(col("p_type") === "PROMO", revenue)
          .otherwise(lit(0).cast(DecimalType(18, 2)))).cast("double")
          .as("promo_revenue"),
        sum(revenue).cast("double").as("total_revenue"),
        (sum(when(col("p_type") === "PROMO", revenue)
          .otherwise(lit(0).cast(DecimalType(18, 2)))).cast("double") * 100.0 /
          sum(revenue).cast("double")).as("promo_pct"))
  }

  /** J33: the TPC-H Q6 forecasting-revenue shape — the pure scan-side
    * query: date + discount-band + quantity predicates ALL pushed to the
    * parquet scan (PlanSpec-gated), one exact-decimal product sum, no
    * join, no shuffle beyond the final 1-row partial-agg merge. The
    * baseline every columnar engine is judged by. */
  val j33ForecastRevenue: Q = (s, d) =>
    lineitem(s, d)
      .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1998-01-01").cast("timestamp") &&
        col("l_discount").between(0.05, 0.07) &&
        col("l_quantity") < 24)
      .agg(
        sum(col("l_extendedprice").cast(DecimalType(18, 2)) *
          col("l_discount").cast(DecimalType(18, 4))).cast("double")
          .as("revenue"),
        count(lit(1)).as("n_items"))

  /** J34: the TPC-H Q9 product-type-profit shape — the 6-table star the
    * sweep previously excused for lack of partsupp. The supply-cost side
    * is SYNTHESIZED over the distinct (partkey, suppkey) pairs actually
    * traded, with a closed-form cost both engines rebuild independently
    * (`ps_supplycost = (7·partkey + 3·suppkey) mod 1000 + 1` as an
    * integer-valued DECIMAL(18,2)) — the p1-gate pattern. Profit =
    * revenue − supplycost·qty accumulates as exact decimals; one double
    * cast at the very end. Plan: the name-filtered part list broadcasts
    * into the fact; partsupp joins on the composite (partkey, suppkey)
    * key (a genuine fact-sized shuffle join — partsupp is 0.8·lineitem
    * here and 4·parts in real TPC-H, never broadcastable); nation
    * broadcasts into supplier; supplier⋈fact is left to AQE (dim is
    * ~1/1000 of the fact — broadcast at bench scale, shuffle at 100 TB). */
  val j34ProductProfit: Q = (s, d) => {
    val li = lineitem(s, d).select("l_orderkey", "l_partkey", "l_suppkey",
      "l_quantity", "l_extendedprice", "l_discount")
    val ps = li.select(col("l_partkey").as("ps_partkey"),
        col("l_suppkey").as("ps_suppkey")).distinct()
      .withColumn("ps_supplycost",
        (pmod(col("ps_partkey") * 7 + col("ps_suppkey") * 3, lit(1000L)) + 1)
          .cast(DecimalType(18, 2)))
    val p = part(s, d).filter(col("p_name").like("%red%")).select("p_partkey")
    val sup = supplier(s, d).select("s_suppkey", "s_nationkey")
      .join(broadcast(nation(s, d).select(col("n_nationkey"),
        col("n_name").as("nation"))),
        col("s_nationkey") === col("n_nationkey"))
      .select("s_suppkey", "nation")
    val o = orders(s, d).select("o_orderkey", "o_orderdate")
    li.join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .join(ps, col("l_partkey") === col("ps_partkey") &&
        col("l_suppkey") === col("ps_suppkey"))
      .join(sup, col("l_suppkey") === col("s_suppkey"))
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("nation"), year(col("o_orderdate")).cast("long").as("o_year"))
      .agg(sum(revenue -
        col("ps_supplycost") * col("l_quantity").cast(DecimalType(18, 2)))
        .cast("double").as("sum_profit"))
      .orderBy(col("nation").asc, col("o_year").desc)
  }

  /** J31: the TPC-H Q8 national-market-share shape — the deepest star in
    * the suite (region→nation→customer→orders→lineitem→supplier→nation
    * again): within one region's market, the share of revenue supplied
    * by ONE nation per order year. Both the numerator (CASE-gated) and
    * denominator accumulate as exact decimals in a single aggregation
    * pass; the share is one double division per year row. Customer-side
    * region filter and supplier-side nation tag both broadcast. */
  val j31MarketShare: Q = (s, d) => {
    val asiaNations = nation(s, d)
      .join(broadcast(region(s, d).filter(col("r_name") === "ASIA")),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey").as("cnk"))
    val c = customer(s, d).select("c_custkey", "c_nationkey")
      .join(broadcast(asiaNations), col("c_nationkey") === col("cnk"))
      .select("c_custkey")
    val o = orders(s, d)
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
      .select("o_orderkey", "o_custkey", "o_orderdate")
    val sup = supplier(s, d)
      .join(broadcast(nation(s, d).select(col("n_nationkey").as("snk"),
        col("n_name").as("supp_nation"))),
        col("s_nationkey") === col("snk"))
      .select("s_suppkey", "supp_nation")
    lineitem(s, d).select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"), "left_semi")
      .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
      .groupBy(year(col("o_orderdate")).cast("long").as("o_year"))
      .agg(
        sum(when(col("supp_nation") === "NATION_5", revenue)
          .otherwise(lit(0).cast(DecimalType(18, 2)))).cast("double")
          .as("nation_rev"),
        sum(revenue).cast("double").as("total_rev"))
      .withColumn("mkt_share", col("nation_rev") / col("total_rev"))
  }

  /** J32: the TPC-H Q15 top-supplier shape — a derived revenue VIEW whose
    * scalar MAX joins back onto itself (j16's argmin family, but the
    * extremum is over a derived aggregate, not a base column): per-quarter
    * supplier revenue in exact decimal, the 1-row max crossJoin-broadcast,
    * and an EXACT decimal equality (ties all surface, deterministically —
    * the oracle can't drift because no float ever enters the compare). */
  val j32TopSupplier: Q = (s, d) => {
    val rev = lineitem(s, d)
      .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-04-01").cast("timestamp"))
      .groupBy(col("l_suppkey"))
      .agg(sum(revenue).as("rev_dec"))
    rev.crossJoin(broadcast(rev.agg(max(col("rev_dec")).as("mx"))))
      .filter(col("rev_dec") === col("mx"))
      .join(broadcast(supplier(s, d).select("s_suppkey", "s_name")),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"),
        col("rev_dec").cast("double").as("total_revenue"))
  }

  /** J30: the TPC-H Q12 shipmode-priority shape — a two-way conditional
    * rollup after a fact⋈fact equi join: per linestatus (the shipmode
    * stand-in), count lines from HIGH-priority vs lower-priority orders,
    * restricted to a one-year late-shipment slice (shipdate > orderdate
    * + 30 days — the commit/receipt-date lag adapted to this schema).
    * The date predicate is a post-join residual on two fact columns;
    * both CASE counters accumulate in one aggregation pass. */
  val j30ShipmodePriority: Q = (s, d) => {
    val o = orders(s, d).select("o_orderkey", "o_orderdate", "o_orderpriority")
    lineitem(s, d)
      .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
      .select("l_orderkey", "l_linestatus", "l_shipdate")
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .filter(col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 30 DAYS"))
      .groupBy("l_linestatus")
      .agg(
        sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
          .otherwise(0L)).as("high_line_count"),
        sum(when(!col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
          .otherwise(0L)).as("low_line_count"))
  }

  /** J14: the TPC-H Q10 returned-item-report shape — who returned the
    * most revenue last quarter: quarter-filtered orders ⋈ lineitem
    * (returnflag 'R') ⋈ customer ⋈ broadcast nation → per-customer
    * revenue rollup → top-20 (TakeOrderedAndProject, deterministic
    * custkey tie-break). The fourth classic OLAP plan next to j12/j13:
    * a selective fact-fact equi join whose dims broadcast, revenue in
    * exact decimal. */
  val j14ReturnedItems: Q = (s, d) => {
    val o = orders(s, d)
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1996-04-01").cast("timestamp"))
      .select("o_orderkey", "o_custkey")
    val l = lineitem(s, d)
      .filter(col("l_returnflag") === "R")
      .select("l_orderkey", "l_extendedprice", "l_discount")
    val c = customer(s, d)
      .select("c_custkey", "c_name", "c_acctbal", "c_nationkey")
    val n = nation(s, d).select("n_nationkey", "n_name")
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
      .agg(sum(revenue).cast("double").as("revenue"))
      .orderBy(col("revenue").desc, col("c_custkey").asc)
      .limit(20)
  }

  /** J15: the TPC-H Q18 large-volume-customer shape — an agg-then-join
    * plan where the HAVING-filtered aggregate (orders whose total
    * quantity exceeds a high threshold) is the SMALL side: lineitem
    * aggregates with map-side partials on the orderkey, the survivors
    * broadcast into the orders scan, and the tiny joined result
    * broadcasts again into customer, so neither orders nor customer
    * ever shuffles. The classic "filtered subquery drives the join
    * order" case Catalyst can't discover without the explicit
    * broadcast hints at 100 TB (stats say lineitem-agg is huge;
    * post-HAVING it isn't). */
  val j15LargeOrders: Q = (s, d) => {
    val big = lineitem(s, d).select("l_orderkey", "l_quantity")
      .groupBy("l_orderkey")
      .agg(sum(col("l_quantity")).as("total_qty"))
      .filter(col("total_qty") > 250)
    val o = orders(s, d)
      .select("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice")
    val withOrders = o.join(broadcast(big), col("o_orderkey") === col("l_orderkey"))
    customer(s, d).select("c_custkey", "c_name")
      .join(broadcast(withOrders), col("o_custkey") === col("c_custkey"))
      .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("order_date"),
        col("o_totalprice"), col("total_qty"))
  }

  /** J16: the TPC-H Q2 min-per-group join-back shape — for every part,
    * the supplier(s) offering the group MINIMUM price: aggregate
    * lineitem to per-part minima, then join the corpus BACK to itself
    * on (partkey, price == min). Both the aggregate and the join-back
    * hash-partition on the same l_partkey, so AQE reuses one exchange
    * for both sides instead of shuffling twice; ties (two suppliers at
    * the same minimum) surface as multiple rows, exactly as the
    * correlated-subquery formulation would. supplier is a broadcast
    * dim. The double equality is exact: both sides carry the same
    * untouched parquet value. */
  val j16CheapestSupplier: Q = (s, d) => {
    val l = lineitem(s, d).select("l_partkey", "l_suppkey", "l_extendedprice")
    val minP = l.groupBy("l_partkey")
      .agg(min(col("l_extendedprice")).as("min_price"))
    l.join(minP, Seq("l_partkey"))
      .filter(col("l_extendedprice") === col("min_price"))
      .join(broadcast(supplier(s, d).select("s_suppkey", "s_name")),
        col("l_suppkey") === col("s_suppkey"))
      .select("l_partkey", "l_suppkey", "s_name", "min_price")
  }

  /** J17: the TPC-H Q4 EXISTS shape — order-priority counts over orders
    * that have at least one returned line: a LEFT SEMI join (Spark's
    * native EXISTS plan — emits each left row at most once, no
    * fan-out, right side reduced to its join key before the exchange)
    * followed by a 5-group rollup. At 100 TB both sides shuffle once on
    * the orderkey and the semi join's early-out makes it strictly
    * cheaper than inner-join + distinct. */
  val j17PrioritySemi: Q = (s, d) => {
    val ret = lineitem(s, d).filter(col("l_returnflag") === "R")
      .select("l_orderkey")
    orders(s, d).select("o_orderkey", "o_orderpriority")
      .join(ret, col("o_orderkey") === col("l_orderkey"), "left_semi")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_orders"))
  }

  /** J18: snapshot reconciliation as a FULL OUTER join — the
    * migration-audit shape (j2/j6's integrity anti-join generalized to a
    * symmetric three-way verdict): rows only in the source, rows only in
    * the destination, and key-matched rows whose values drifted, rolled
    * up per class. The drifted snapshot is derived from orders by closed
    * forms (every 97th key dropped, every 13th price perturbed) so the
    * oracle rebuilds both sides exactly. One shuffle per side on the
    * key; the verdict is a scan-side CASE over the join's null pattern;
    * the rollup is 3 rows. At 100 TB both snapshots bucket-partition on
    * the key and the join co-locates. */
  val j18ReconcileDiff: Q = (s, d) => {
    val o = orders(s, d).select(col("o_orderkey").as("k"), col("o_totalprice").as("v"))
    val right = o.filter(pmod(col("k"), lit(97)) =!= 0)
      .withColumn("v",
        when(pmod(col("k"), lit(13)) === 0, col("v") + 1.0).otherwise(col("v")))
    o.as("l").join(right.as("r"), col("l.k") === col("r.k"), "full_outer")
      .select(
        when(col("l.k").isNull, "missing_left")
          .when(col("r.k").isNull, "missing_right")
          .when(col("l.v") === col("r.v"), "match")
          .otherwise("value_mismatch").as("class"))
      .groupBy("class").agg(count(lit(1)).as("n"))
  }

  /** J19: the TPC-H Q21 waiting-orders shape — the hardest classic join
    * nest: a semi join AND an anti join against the SAME fact table with
    * a non-equi residual (`other supplier in the same order`). "Late" is
    * shipped >60 days after the order date (this schema has no
    * commit/receipt dates); a supplier is blamed when its line is late,
    * the order is finalized and multi-supplier, and NO OTHER supplier's
    * line in that order is late. All three passes over lineitem hash on
    * l_orderkey, so at 100 TB the semi + anti stack onto the same
    * exchange as the orders join (one fact shuffle, reused three times);
    * the non-equi suppkey inequality rides as a join residual, never a
    * nested loop. supplier is a broadcast dim; the count rollup is tiny. */
  val j19SoleLateSupplier: Q = (s, d) => {
    val l = lineitem(s, d).select("l_orderkey", "l_suppkey", "l_shipdate")
    val fOrders = orders(s, d).filter(col("o_orderstatus") === "F")
      .select("o_orderkey", "o_orderdate")
    val late = l.join(fOrders, col("l_orderkey") === col("o_orderkey"))
      .filter(col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"))
      .select(col("l_orderkey").as("ok"), col("l_suppkey").as("sk"))
    val other = l.select(col("l_orderkey").as("ok2"), col("l_suppkey").as("sk2"))
    val lateOther = late.select(col("ok").as("ok3"), col("sk").as("sk3"))
    val blamed = late
      .join(other,
        col("ok") === col("ok2") && col("sk") =!= col("sk2"), "left_semi")
      .join(lateOther,
        col("ok") === col("ok3") && col("sk") =!= col("sk3"), "left_anti")
    blamed
      .join(broadcast(supplier(s, d).select("s_suppkey", "s_name")),
        col("sk") === col("s_suppkey"))
      .groupBy("s_name")
      .agg(count(lit(1)).as("numwait"))
      .orderBy(col("numwait").desc, col("s_name").asc)
      .limit(20)
  }

  /** J20: the TPC-H Q20 excess-stock shape — a semi join driven by a
    * DERIVED aggregate threshold: suppliers shipping more than 2× their
    * fair share of a large part's volume (share > 2·total/n_suppliers —
    * scale-invariant, unlike Q20's literal 50% which no supplier reaches
    * once a part has 30+ suppliers). The per-(part,supplier) aggregate
    * and the per-part total stack on the same l_partkey exchange
    * (map-side partials both times); quantities sum through
    * DECIMAL(18,2) so the threshold compare is order-independent; part
    * is a broadcast dim filter and the qualifying set is tiny before it
    * ever touches supplier. */
  val j20ExcessShare: Q = (s, d) => {
    val ps = lineitem(s, d).select("l_partkey", "l_suppkey", "l_quantity")
      .groupBy("l_partkey", "l_suppkey")
      .agg(sum(col("l_quantity").cast(DecimalType(18, 2))).as("sq"))
    val tot = ps.groupBy("l_partkey")
      .agg(sum(col("sq")).as("tq"), count(lit(1)).as("ns"))
    val qual = ps.join(tot, Seq("l_partkey"))
      .join(broadcast(part(s, d).filter(col("p_size") > 40).select("p_partkey")),
        col("l_partkey") === col("p_partkey"))
      .filter(col("sq").cast("double") >
        lit(2.0) * (col("tq").cast("double") / col("ns")))
    qual
      .join(broadcast(supplier(s, d).select("s_suppkey", "s_name")),
        col("l_suppkey") === col("s_suppkey"))
      .groupBy("s_suppkey", "s_name")
      .agg(count(lit(1)).as("n_parts"))
      .orderBy(col("n_parts").desc, col("s_suppkey").asc)
      .limit(20)
  }

  /** W8: SCD Type-2 intervalization — the warehouse dimension-build
    * operator: collapse a property change log (here: each user's
    * event_type stream) into validity intervals [valid_from, valid_to)
    * with an is_current flag. Two windows over the SAME (user_id ×
    * ts, event_id) sort — change-point detection via lag, interval close
    * via lead over the surviving rows — so the whole operator is one
    * shuffle on user_id and one sort, no self-join against the log. The
    * run-collapse (drop rows equal to their predecessor) happens BEFORE
    * the lead, so a 100 TB log with long stable runs shrinks to its
    * change count between the two windows. */
  val w8Scd2Intervals: Q = (s, d) => {
    val ev = events(s, d)
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val changes = ev
      .select(col("user_id"), eventTs(ev).as("vts"), col("ts"),
        col("event_id"), col("event_type"))
      .withColumn("prev_type", lag("event_type", 1).over(w))
      .filter(col("prev_type").isNull || col("prev_type") =!= col("event_type"))
    val w2 = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    changes
      .withColumn("next_vts", lead("vts", 1).over(w2))
      .select(
        col("user_id"), col("event_type"),
        date_format(col("vts"), "yyyy-MM-dd HH:mm:ss").as("valid_from"),
        date_format(col("next_vts"), "yyyy-MM-dd HH:mm:ss").as("valid_to"),
        col("next_vts").isNull.as("is_current"))
  }

  /** W9: gaps-and-islands — collapse each user's activity days into
    * maximal CONSECUTIVE runs (streak detection: subscription lapses,
    * sensor dropouts, login streaks). Lag flags run starts, a running
    * sum numbers the islands, one group-by summarizes — all three
    * windows and the final aggregation share the SAME user_id
    * partitioning, so the whole operator is one exchange + one sort
    * over the (already-distinct'd) activity frame, never the raw log. */
  val w9GapsIslands: Q = (s, d) => {
    val ev = events(s, d)
    val act = ev.select(col("user_id"), to_date(eventTs(ev)).as("day")).distinct()
    val w = Window.partitionBy("user_id").orderBy("day")
    val islands = act
      .withColumn("prev_day", lag("day", 1).over(w))
      .withColumn("new_island",
        when(col("prev_day").isNull ||
          datediff(col("day"), col("prev_day")) > 1, 1L).otherwise(0L))
      .withColumn("island", sum("new_island")
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    islands.groupBy("user_id", "island")
      .agg(
        date_format(min("day"), "yyyy-MM-dd").as("island_start"),
        date_format(max("day"), "yyyy-MM-dd").as("island_end"),
        count(lit(1)).as("n_days"))
      .select("user_id", "island", "island_start", "island_end", "n_days")
  }

  /** J11: static-interval range lookup as a ZERO-JOIN scan-side
    * expression ([[graft.functions.RangeBucket]]) — the broadcast-dim
    * archetype (IP→geo, value→tier, slot→fork) where the dim table is a
    * static sorted boundary list and the fact side is the 100 TB corpus.
    * Expressing this as `fact.v BETWEEN dim.lo AND dim.hi` joins through
    * a BroadcastNestedLoopJoin (O(rows × intervals) compares, a join
    * node, no codegen fusion); binding the 64 boundaries as a
    * plan-constant binary-search expression keeps the lookup inside
    * WholeStageCodegen at O(log 64) per row and the whole query is one
    * scan + one agg exchange (PlanSpec-gated: NO join in the plan).
    * Boundaries are deliberately non-uniform (quadratic) — the case
    * `width_bucket` can't express. */
  val j11RangeLookup: Q = (s, d) => {
    // 0.15 * (i*i): i*i exact in Long, ONE double rounding — the oracle
    // spells the same product shape so the bounds are bitwise identical.
    val bounds = Array.tabulate(64)(i => 0.15 * (i.toLong * i))
    val ev = events(s, d)
    ev.select(range_bucket(col("value"), bounds).as("tier"), col("value"))
      .groupBy("tier")
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("total"))
      .withColumn("tier_lo", element_at(lit(bounds), col("tier") + 1))
  }

  // ---------------------------------------------------------------------
  // Ledger-operator queries (A3/A6/J2): the REAL beacon ledger operators
  // ([[graft.beacon.Ledger]]/[[graft.beacon.Maintenance]]) driven by a
  // deterministic synthetic ledger derived from `events` — every derived
  // column is integer/CASE arithmetic the oracle rebuilds relationally,
  // so the driver gate checks the operator code itself, not a re-typed
  // copy of its SQL.
  // ---------------------------------------------------------------------

  /** Chunk ledger rows synthesized from events: one chunk per event,
    * status striped by event_id mod 10 (0-5 completed, 6-7 pending,
    * 8 claimed, 9 failed). */
  private def syntheticLedger(s: SparkSession, d: String): DataFrame =
    events(s, d).select(
      concat(col("event_type"), lit("_"), col("event_id")).as("chunk_id"),
      (col("event_id") * 100).as("start_slot"),
      (col("event_id") * 100 + 99).as("end_slot"),
      col("event_type").as("loader_name"),
      when(pmod(col("event_id"), lit(10)) <= 5, "completed")
        .when(pmod(col("event_id"), lit(10)) <= 7, "pending")
        .when(pmod(col("event_id"), lit(10)) === 8, "claimed")
        .otherwise("failed").as("status"),
      concat(lit("w"), pmod(col("event_id"), lit(4))).as("worker_id"),
      lit(null).cast("timestamp").as("created_at"),
      lit(null).cast("timestamp").as("updated_at"),
      lit(1L).as("insert_version"))

  /** Transformer-progress rows synthesized from events: events ≡ 2 (mod 3)
    * have no progress row at all (never attempted), ≡ 0 completed,
    * event_id ≡ 1 (mod 21) processing, the rest failed. */
  private def syntheticProgress(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .filter(pmod(col("event_id"), lit(3)) =!= 2)
      .select(
        concat(lit("raw_"), col("event_type")).as("raw_table_name"),
        (col("event_id") * 100).as("start_slot"),
        (col("event_id") * 100 + 99).as("end_slot"),
        when(pmod(col("event_id"), lit(3)) === 0, "completed")
          .when(pmod(col("event_id"), lit(21)) === 1, "processing")
          .otherwise("failed").as("status"),
        pmod(col("event_id"), lit(50)).as("processed_count"),
        when(pmod(col("event_id"), lit(3)) === 1, pmod(col("event_id"), lit(7)))
          .otherwise(lit(0L)).as("failed_count"),
        lit(null).cast("string").as("error_message"),
        lit(null).cast("timestamp").as("processed_at"),
        lit(1L).as("insert_version"))

  /** A3: [[graft.beacon.Ledger.transformStatus]] (transformer.py:620-662)
    * over the synthetic progress ledger. */
  val a3TransformStatus: Q = (s, d) =>
    graft.beacon.Ledger.transformStatus(syntheticProgress(s, d))

  /** A6: [[graft.beacon.Ledger.failedSummary]] (maintenance.py:64-80)
    * over the synthetic chunk ledger. */
  val a6FailedSummary: Q = (s, d) =>
    graft.beacon.Ledger.failedSummary(syntheticLedger(s, d))

  /** J2: [[graft.beacon.Maintenance.check]] (maintenance.py:577-667) —
    * the integrity report end-to-end THROUGH the LedgerStore parquet
    * round-trip: failed chunks plus the completed-but-untransformed
    * anti-join, tagged and unioned into one oracle-comparable frame. */
  val j2IntegrityCheck: Q = (s, d) => {
    val tmp = scratchDir("graft_j2").toString
    val led = graft.beacon.LedgerStore(s"$tmp/chunks")
    led.append(syntheticLedger(s, d))
    val prog = graft.beacon.LedgerStore(s"$tmp/progress")
    prog.append(syntheticProgress(s, d))
    val loaders = events(s, d).select("event_type").distinct()
      .orderBy("event_type").collect().map(_.getString(0)).toSeq
    val out = graft.beacon.Maintenance.check(s, led, prog, loaders)
    def shape(df: DataFrame, kind: String) =
      df.select(
        col("chunk_id"), col("loader_name"), col("start_slot"),
        col("end_slot"), col("status"), lit(kind).as("kind"))
    shape(out("failed_chunks"), "failed")
      .unionByName(shape(out("untransformed_chunks"), "untransformed"))
  }

  // ---------------------------------------------------------------------
  // Declared inventory
  // ---------------------------------------------------------------------

  val queries: Map[String, Q] = Map(
    "f1_range_scan" -> f1RangeScan,
    "f2_latest_per_key" -> f2LatestPerKey,
    "f4_distinct_pairs" -> f4DistinctPairs,
    "f5_fork_gate" -> f5ForkGate,
    "f6_last_of_day" -> f6LastOfDay,
    "f7_status_filter" -> f7StatusFilter,
    "j1_anti_join" -> j1AntiJoin,
    "j2_integrity_check" -> j2IntegrityCheck,
    "j3_gap_detection" -> j3GapDetection,
    "j4_join_agg_broadcast" -> j4JoinAggBroadcast,
    "j5_daily_rollup_join" -> j5DailyRollupJoin,
    "j6_except_diff" -> j6ExceptDiff,
    "a1_conditional_agg" -> a1ConditionalAgg,
    "a2_pricing_summary" -> a2PricingSummary,
    "a3_transform_status" -> a3TransformStatus,
    "a4_minmax_distinct" -> a4MinMaxDistinct,
    "a6_failed_summary" -> a6FailedSummary,
    "a5_max_probe" -> a5MaxProbe,
    "a7_hourly_rollup" -> a7HourlyRollup,
    "a7_top_users_having" -> a7TopUsersHaving,
    "a8_distinct_priorities" -> a8DistinctPriorities,
    "w1_latest_props" -> w1LatestProps,
    "w2_work_sharding" -> w2WorkSharding,
    "o1_topk" -> o1TopK,
    "o2_multikey_sort" -> o2MultiKeySort,
    "o3_topk_per_group" -> o3TopkPerGroup,
    "a24_cube" -> a24Cube,
    "a25_weighted_quantiles" -> a25WeightedQuantiles,
    "a26_mode_per_key" -> a26ModePerKey,
    "x2_union_stats" -> x2UnionStats,
    "x3_intersect" -> x3Intersect,
    "a10_rollup" -> a10Rollup,
    "w3_event_deltas" -> w3EventDeltas,
    "j8_asof_join" -> j8AsofJoin,
    "j21_asof_tolerance" -> j21AsofTolerance,
    "w4_sessionization" -> w4Sessionization,
    "r8_stream_window_counts" -> r8StreamWindowCounts,
    "r9_stream_session_windows" -> r9StreamSessionWindows,
    "r10_stream_attribution" -> r10StreamAttribution,
    "r16_stream_left_outer" -> r16StreamLeftOuter,
    "r18_stream_full_outer" -> r18StreamFullOuter,
    "w12_twap" -> w12Twap,
    "a27_isotonic_fit" -> a27IsotonicFit,
    "a11_percentiles" -> a11Percentiles,
    "a23_mad_outliers" -> a23MadOutliers,
    "w10_trailing_anomaly" -> w10TrailingAnomaly,
    "w11_fill_forward" -> w11FillForward,
    "w5_rolling_counts" -> w5RollingCounts,
    "a12_pivot" -> a12Pivot,
    "j9_interval_join" -> j9IntervalJoin,
    "w6_rank_distributions" -> w6RankDistributions,
    "a13_grouping_sets" -> a13GroupingSets,
    "j10_overlap_join" -> j10OverlapJoin,
    "j11_range_lookup" -> j11RangeLookup,
    "j12_shipping_priority" -> j12ShippingPriority,
    "j13_local_supplier_volume" -> j13LocalSupplierVolume,
    "j22_volume_shipping" -> j22VolumeShipping,
    "j23_small_qty_orders" -> j23SmallQtyOrders,
    "j24_no_order_rich" -> j24NoOrderRich,
    "j25_order_count_dist" -> j25OrderCountDist,
    "j26_supplier_cnt" -> j26SupplierCnt,
    "j27_value_share" -> j27ValueShare,
    "j28_disjunctive_pred" -> j28DisjunctivePred,
    "x4_except_all" -> x4ExceptAll,
    "x5_intersect_all" -> x5IntersectAll,
    "j29_promo_share" -> j29PromoShare,
    "j30_shipmode_priority" -> j30ShipmodePriority,
    "j31_market_share" -> j31MarketShare,
    "j32_top_supplier" -> j32TopSupplier,
    "j33_forecast_revenue" -> j33ForecastRevenue,
    "j34_product_profit" -> j34ProductProfit,
    "a14_rolling_dau" -> a14RollingDau,
    "w7_first_touch" -> w7FirstTouch,
    "a15_funnel_conversion" -> a15FunnelConversion,
    "a16_retention_cohorts" -> a16RetentionCohorts,
    "a21_decayed_counts" -> a21DecayedCounts,
    "g1_pagerank" -> g1Pagerank,
    "j14_returned_items" -> j14ReturnedItems,
    "j15_large_orders" -> j15LargeOrders,
    "j16_cheapest_supplier" -> j16CheapestSupplier,
    "j17_priority_semi" -> j17PrioritySemi,
    "j18_reconcile_diff" -> j18ReconcileDiff,
    "j19_sole_late_supplier" -> j19SoleLateSupplier,
    "j20_excess_share" -> j20ExcessShare,
    "w8_scd2_intervals" -> w8Scd2Intervals,
    "w9_gaps_islands" -> w9GapsIslands,
    "g2_personalized_pagerank" -> g2PersonalizedPagerank,
    "g3_converged_pagerank" -> g3ConvergedPagerank,
    "g4_triangle_count" -> g4TriangleCount,
    "g5_common_neighbors" -> g5CommonNeighbors,
    "g6_hop_distance" -> g6HopDistance,
    "g7_min_label_prop" -> g7MinLabelProp,
    "g8_hits" -> g8Hits,
    "g9_connected_components" -> g9ConnectedComponents,
    "c1_safe_long_hex" -> c1SafeLongHex,
    "c3_payload_hash" -> c3PayloadHash,
    "c4_popcount" -> c4Popcount,
    "c5_hex_byte_length" -> c5HexByteLength,
    "j7_cross_one_row" -> j7CrossOneRow,
    "c8_slot_timestamp" -> c8SlotTimestamp,
    "c9_epoch_rollup" -> c9EpochRollup,
    "c14_json_probe" -> c14JsonProbe,
    "c17_edit_distance" -> c17EditDistance,
    "c18_date_arith" -> c18DateArith,
    "d1_chunk_plan" -> d1ChunkPlan,
    "p1_blocks" -> p1Blocks,
    "p3_deposits" -> p3Deposits,
    "p2_attestations" -> p2Attestations,
    "p6_attester_slashings" -> p6AttesterSlashings,
    "p7_sync_aggregates" -> p7SyncAggregates,
    "p10_withdrawals" -> p10Withdrawals,
    "p5_proposer_slashings" -> p5ProposerSlashings,
    "p14_execution_requests" -> p14ExecutionRequests,
    "p8_execution_payloads" -> p8ExecutionPayloads,
    "p4_voluntary_exits" -> p4VoluntaryExits,
    "p16_pending_deposits" -> p16PendingDeposits,
    "p20_rewards" -> p20Rewards,
    "p9_transactions" -> p9Transactions,
    "p13_blob_sidecars" -> p13BlobSidecars,
    "p21_data_column_sidecars" -> p21DataColumnSidecars,
    "p11_bls_changes" -> p11BlsChanges,
    "p12_blob_commitments" -> p12BlobCommitments,
    "p15_pending_consolidations" -> p15PendingConsolidations,
    "p17_pending_partial_withdrawals" -> p17PendingPartialWithdrawals,
    "p19_validators" -> p19Validators,
    "p2_explode_enumerate" -> p2ExplodeEnumerate,
    "p24_unpivot" -> p24Unpivot,
  )

  /** g1's DuckDB mirror: the 5 PageRank iterations UNROLLED as chained
    * CTEs (recursive CTEs cannot aggregate in the recursive term, and a
    * fixed step count needs no recursion). Each iteration mirrors the
    * Spark expression op-for-op: contribution `(rank * w) / ow` (one
    * multiply, one divide), incoming fold ordered by `src`
    * (`list_reduce(list(... ORDER BY src))` ≡ the exact-mode
    * `aggregate(array_sort(collect_list(...)))`; the 0.0 init is
    * absorbed — `0.0 + x = x` bitwise for positive x), and the update
    * `((1.0 - 0.85) / n) + 0.85 * COALESCE(inc, 0.0)`. Every numeric
    * literal is CAST to DOUBLE because DuckDB parses bare decimal
    * literals as DECIMAL — `(1.0 - 0.85)` would be the EXACT decimal
    * 0.15 where Scala's binary-double subtraction gives
    * 0.15000000000000002, a last-ulp mismatch that survives to the
    * hash. */
  private def g1OracleSql: String = pagerankUnrolledSql(5, "SELECT node, rank FROM r5")

  /** Exact 2^(18−k) scaled-long CASE chain for the a21 mirror — the
    * same literals the operator's when-chain binds. */
  private def decayCaseSql(maxUnits: Int): String =
    (0 to maxUnits).map { k =>
      s"WHEN u2 = $k THEN ${1L << (maxUnits - k)}"
    }.mkString(" ")

  private def a21OracleSql: String =
    s"""WITH w AS (
       |  SELECT event_type,
       |         CAST(floor(date_diff('day', CAST(ts AS DATE), DATE '2024-02-01') / 7) AS BIGINT) AS u
       |  FROM events),
       |c AS (SELECT event_type, CASE WHEN u < 0 THEN 0 ELSE u END AS u2 FROM w)
       |SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
       |       CAST(sum(CASE ${decayCaseSql(18)} ELSE 0 END) AS BIGINT) AS decayed_scaled,
       |       CAST(sum(CASE ${decayCaseSql(18)} ELSE 0 END) AS DOUBLE)
       |         / ${(1L << 18).toDouble} AS decayed_count
       |FROM c GROUP BY event_type""".stripMargin

  /** Shared unrolled-CTE PageRank mirror: `n` literal iterations, then
    * `finalSelect` over r`n` — g1 uses 5; g3 uses 10 plus the literal
    * convergence step count (the loop's deterministic `done` on this
    * corpus; a corpus change that shifted convergence would hash-fail
    * loudly, which is the gate working). */
  private def pagerankUnrolledSql(n: Int, finalSelect: String): String = {
    val iters = (1 to n).map { k =>
      s"""i$k AS (
         |  SELECT e.dst, list_reduce(
         |    list((r.rank * CAST(e.w AS DOUBLE)) / CAST(o.ow AS DOUBLE) ORDER BY e.src),
         |    (a, b) -> a + b) AS inc
         |  FROM edges e JOIN r${k - 1} r ON r.node = e.src
         |  JOIN outw o ON o.src = e.src
         |  GROUP BY e.dst),
         |r$k AS (
         |  SELECT nodes.node,
         |    ((CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / (SELECT n FROM nn))
         |      + CAST(0.85 AS DOUBLE) * COALESCE(i.inc, CAST(0.0 AS DOUBLE)) AS rank
         |  FROM nodes LEFT JOIN i$k i ON i.dst = nodes.node)""".stripMargin
    }.mkString(",\n")
    s"""WITH seq AS (
       |  SELECT user_id, ts, event_id, event_type,
       |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
       |  FROM events),
       |edges AS (
       |  SELECT prev AS src, event_type AS dst, CAST(count(*) AS BIGINT) AS w
       |  FROM seq WHERE prev IS NOT NULL GROUP BY prev, event_type),
       |nodes AS (
       |  SELECT DISTINCT node FROM
       |    (SELECT src AS node FROM edges UNION ALL SELECT dst FROM edges)),
       |nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
       |outw AS (SELECT src, CAST(sum(w) AS BIGINT) AS ow FROM edges GROUP BY src),
       |r0 AS (SELECT node, CAST(1.0 AS DOUBLE) / (SELECT n FROM nn) AS rank FROM nodes),
       |$iters
       |$finalSelect""".stripMargin
  }

  /** g2's mirror: g1's unrolled CTEs with the teleport COLUMN (CASE on
    * the seed node; `lit(1.0 / nSeeds)` with one seed is exactly 1.0)
    * replacing the uniform scalar, and the start vector = the teleport
    * vector. Same DOUBLE-cast discipline throughout. */
  private def g2OracleSql: String = {
    val iters = (1 to 5).map { k =>
      s"""i$k AS (
         |  SELECT e.dst, list_reduce(
         |    list((r.rank * CAST(e.w AS DOUBLE)) / CAST(o.ow AS DOUBLE) ORDER BY e.src),
         |    (a, b) -> a + b) AS inc
         |  FROM edges e JOIN r${k - 1} r ON r.node = e.src
         |  JOIN outw o ON o.src = e.src
         |  GROUP BY e.dst),
         |r$k AS (
         |  SELECT nodes.node,
         |    (CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) * t.tele
         |      + CAST(0.85 AS DOUBLE) * COALESCE(i.inc, CAST(0.0 AS DOUBLE)) AS rank
         |  FROM nodes JOIN tele t ON t.node = nodes.node
         |  LEFT JOIN i$k i ON i.dst = nodes.node)""".stripMargin
    }.mkString(",\n")
    s"""WITH seq AS (
       |  SELECT user_id, ts, event_id, event_type,
       |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
       |  FROM events),
       |edges AS (
       |  SELECT prev AS src, event_type AS dst, CAST(count(*) AS BIGINT) AS w
       |  FROM seq WHERE prev IS NOT NULL GROUP BY prev, event_type),
       |nodes AS (
       |  SELECT DISTINCT node FROM
       |    (SELECT src AS node FROM edges UNION ALL SELECT dst FROM edges)),
       |outw AS (SELECT src, CAST(sum(w) AS BIGINT) AS ow FROM edges GROUP BY src),
       |tele AS (
       |  SELECT node, CASE WHEN node = 'signup' THEN CAST(1.0 AS DOUBLE)
       |                    ELSE CAST(0.0 AS DOUBLE) END AS tele
       |  FROM nodes),
       |r0 AS (SELECT node, tele AS rank FROM tele),
       |$iters
       |SELECT node, rank FROM r5""".stripMargin
  }

  val oracleSql: Map[String, String] = Map(
    "f1_range_scan" ->
      "SELECT event_id, event_type, value FROM events WHERE event_id BETWEEN 100 AND 400",
    "f2_latest_per_key" ->
      """SELECT user_id, event_id, event_type FROM (
        |  SELECT user_id, event_id, event_type,
        |         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events) t WHERE rn = 1""".stripMargin,
    "f4_distinct_pairs" ->
      "SELECT DISTINCT user_id, event_type FROM events",
    "f5_fork_gate" ->
      "SELECT event_id, user_id FROM events WHERE event_id >= 500 AND event_type = 'purchase'",
    "f6_last_of_day" ->
      """SELECT event_id,
        |       strftime(make_timestamp((1638993340 + event_id * 300) * 1000000),
        |                '%Y-%m-%d') AS day
        |FROM events
        |WHERE CAST(make_timestamp((1638993340 + event_id * 300) * 1000000) AS DATE)
        |   <> CAST(make_timestamp((1638993340 + (event_id + 1) * 300) * 1000000) AS DATE)""".stripMargin,
    "f7_status_filter" ->
      """SELECT event_type, count(*) AS n FROM events
        |WHERE event_type IN ('error', 'signup') GROUP BY event_type""".stripMargin,
    "j1_anti_join" ->
      """SELECT c_custkey, c_name FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)""".stripMargin,
    // a3/a6/j2 rebuild the synthetic ledgers (see [[syntheticLedger]] /
    // [[syntheticProgress]]: pure integer/CASE stripes over events) and
    // mirror the ledger operators relationally — incl. j2's
    // completed-but-untransformed anti-join
    "a3_transform_status" ->
      """WITH prog AS (
        |  SELECT 'raw_' || event_type AS raw_table_name,
        |         event_id * 100 AS start_slot, event_id * 100 + 99 AS end_slot,
        |         CASE WHEN event_id % 3 = 0 THEN 'completed'
        |              WHEN event_id % 21 = 1 THEN 'processing'
        |              ELSE 'failed' END AS status,
        |         event_id % 50 AS processed_count,
        |         CASE WHEN event_id % 3 = 1 THEN event_id % 7 ELSE 0 END AS failed_count
        |  FROM events WHERE event_id % 3 <> 2)
        |SELECT raw_table_name, count(*) AS total,
        |       CAST(SUM(CASE WHEN status = 'completed' THEN 1 ELSE 0 END) AS BIGINT) AS completed,
        |       CAST(SUM(CASE WHEN status = 'failed' THEN 1 ELSE 0 END) AS BIGINT) AS failed,
        |       CAST(SUM(CASE WHEN status = 'processing' THEN 1 ELSE 0 END) AS BIGINT) AS processing,
        |       CAST(SUM(processed_count) AS BIGINT) AS rows_processed,
        |       CAST(SUM(failed_count) AS BIGINT) AS rows_failed,
        |       MAX(CASE WHEN status = 'completed' THEN end_slot END) AS max_completed_slot
        |FROM prog GROUP BY raw_table_name""".stripMargin,
    "a6_failed_summary" ->
      """WITH led AS (
        |  SELECT event_type AS loader_name,
        |         event_id * 100 AS start_slot, event_id * 100 + 99 AS end_slot,
        |         CASE WHEN event_id % 10 <= 5 THEN 'completed'
        |              WHEN event_id % 10 <= 7 THEN 'pending'
        |              WHEN event_id % 10 = 8 THEN 'claimed'
        |              ELSE 'failed' END AS status
        |  FROM events)
        |SELECT loader_name, count(*) AS n_failed,
        |       MIN(start_slot) AS min_slot, MAX(end_slot) AS max_slot
        |FROM led WHERE status = 'failed' GROUP BY loader_name""".stripMargin,
    "j2_integrity_check" ->
      """WITH led AS (
        |  SELECT event_type || '_' || event_id::VARCHAR AS chunk_id,
        |         event_type AS loader_name,
        |         event_id * 100 AS start_slot, event_id * 100 + 99 AS end_slot,
        |         CASE WHEN event_id % 10 <= 5 THEN 'completed'
        |              WHEN event_id % 10 <= 7 THEN 'pending'
        |              WHEN event_id % 10 = 8 THEN 'claimed'
        |              ELSE 'failed' END AS status
        |  FROM events),
        |done AS (
        |  SELECT 'raw_' || event_type AS raw_table_name,
        |         event_id * 100 AS start_slot, event_id * 100 + 99 AS end_slot
        |  FROM events WHERE event_id % 3 = 0)
        |SELECT chunk_id, loader_name, start_slot, end_slot, status,
        |       'failed' AS kind
        |FROM led WHERE status = 'failed'
        |UNION ALL
        |SELECT l.chunk_id, l.loader_name, l.start_slot, l.end_slot, l.status,
        |       'untransformed' AS kind
        |FROM led l LEFT JOIN done p
        |  ON p.start_slot = l.start_slot AND p.end_slot = l.end_slot
        | AND p.raw_table_name = 'raw_' || l.loader_name
        |WHERE l.status = 'completed' AND p.start_slot IS NULL""".stripMargin,
    "j3_gap_detection" ->
      // seq base must be a table whose ROW COUNT exceeds max(user_id) at
      // every SF — lineitem (largest table, 6k rows at sf0.001) always
      // does; events itself only did by generator accident
      """WITH seq AS (SELECT ROW_NUMBER() OVER () - 1 AS user_id FROM lineitem)
        |SELECT s.user_id FROM seq s
        |WHERE s.user_id <= (SELECT MAX(user_id) FROM events)
        |  AND NOT EXISTS (
        |    SELECT 1 FROM events e WHERE e.user_id = s.user_id AND e.event_type = 'purchase')""".stripMargin,
    "j4_join_agg_broadcast" ->
      """SELECT c_mktsegment, count(*) AS n_orders,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment""".stripMargin,
    "j5_daily_rollup_join" ->
      """SELECT strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d') AS day, count(*) AS n_items,
        |       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1""".stripMargin,
    "j6_except_diff" ->
      """SELECT DISTINCT user_id FROM events WHERE CAST(ts AS DATE) = DATE '2024-01-01'
        |EXCEPT
        |SELECT DISTINCT user_id FROM events WHERE CAST(ts AS DATE) = DATE '2024-01-02'""".stripMargin,
    "a1_conditional_agg" ->
      """SELECT event_type, count(*) AS n,
        |       CAST(SUM(CASE WHEN value > 100 THEN 1 ELSE 0 END) AS BIGINT) AS n_high,
        |       CAST(SUM(CASE WHEN value <= 100 THEN 1 ELSE 0 END) AS BIGINT) AS n_low,
        |       MIN(event_id) AS min_id, MAX(event_id) AS max_id
        |FROM events GROUP BY event_type""".stripMargin,
    "a2_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base,
        |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |                (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
        |       count(*) AS n
        |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin,
    "a4_minmax_distinct" ->
      """SELECT MIN(event_id) AS min_id, MAX(event_id) AS max_id,
        |       COUNT(DISTINCT user_id) AS n_users, COUNT(*) AS n FROM events""".stripMargin,
    "a5_max_probe" ->
      "SELECT event_type, MAX(event_id) AS max_id FROM events GROUP BY event_type",
    "a7_hourly_rollup" ->
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS h, count(*) AS n,
        |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS v
        |FROM events GROUP BY 1""".stripMargin,
    "a7_top_users_having" ->
      """SELECT user_id, count(*) AS n FROM events WHERE event_type = 'purchase'
        |GROUP BY user_id HAVING count(*) >= 5""".stripMargin,
    "a8_distinct_priorities" ->
      "SELECT DISTINCT o_orderpriority FROM orders",
    "w1_latest_props" ->
      """SELECT user_id, props FROM (
        |  SELECT user_id, props,
        |         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events) t WHERE rn = 1""".stripMargin,
    "w2_work_sharding" ->
      """SELECT event_id FROM (
        |  SELECT event_id,
        |         (ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY event_id) - 1) % 4 AS shard
        |  FROM events) t WHERE shard = 0""".stripMargin,
    "o1_topk" ->
      "SELECT event_id, value FROM events ORDER BY value DESC, event_id LIMIT 10",
    "o2_multikey_sort" ->
      "SELECT event_type, event_id FROM events ORDER BY event_type, event_id LIMIT 100",
    "x2_union_stats" ->
      """SELECT 'orders' AS tbl, count(*) AS n FROM orders
        |UNION ALL SELECT 'lineitem' AS tbl, count(*) AS n FROM lineitem
        |UNION ALL SELECT 'customer' AS tbl, count(*) AS n FROM customer""".stripMargin,
    "x3_intersect" ->
      """SELECT DISTINCT user_id FROM events WHERE CAST(ts AS DATE) = DATE '2024-01-01'
        |INTERSECT
        |SELECT DISTINCT user_id FROM events WHERE CAST(ts AS DATE) = DATE '2024-01-02'""".stripMargin,
    "a10_rollup" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n,
        |       MIN(o_orderkey) AS min_key
        |FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)""".stripMargin,
    // epoch seconds via integer floor division of microseconds — DuckDB's
    // epoch() is a DOUBLE and ::BIGINT ROUNDS, Spark's unix_timestamp
    // truncates; epoch_us // 1000000 matches the truncation exactly
    "w3_event_deltas" ->
      """SELECT user_id, event_id,
        |       epoch_us(ts) // 1000000 - lag(epoch_us(ts) // 1000000, 1) OVER (
        |         PARTITION BY user_id ORDER BY ts, event_id) AS gap_s
        |FROM events""".stripMargin,
    "j8_asof_join" ->
      """SELECT event_id AS click_id, user_id, purchase_id, sec - p_sec AS gap_s
        |FROM (
        |  SELECT user_id, event_id, event_type, epoch_us(ts) // 1000000 AS sec,
        |    last_value(CASE WHEN event_type = 'purchase' THEN event_id END IGNORE NULLS)
        |      OVER w AS purchase_id,
        |    last_value(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) // 1000000 END IGNORE NULLS)
        |      OVER w AS p_sec
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)) t
        |WHERE event_type = 'click'""".stripMargin,
    "j21_asof_tolerance" ->
      """SELECT event_id AS click_id, user_id,
        |       CASE WHEN sec - p_sec <= 3600 THEN purchase_id END AS purchase_id,
        |       CASE WHEN sec - p_sec <= 3600 THEN sec - p_sec END AS gap_s
        |FROM (
        |  SELECT user_id, event_id, event_type, epoch_us(ts) // 1000000 AS sec,
        |    last_value(CASE WHEN event_type = 'purchase' THEN event_id END IGNORE NULLS)
        |      OVER w AS purchase_id,
        |    last_value(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) // 1000000 END IGNORE NULLS)
        |      OVER w AS p_sec
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)) t
        |WHERE event_type = 'click'""".stripMargin,
    // the batch twin of the streaming tumbling-window counts: exact
    // integer bucket arithmetic, same 300 s epoch-aligned buckets
    "r8_stream_window_counts" ->
      """SELECT (epoch_us(ts) // 300000000) * 300 AS start_s,
        |       event_type, count(*) AS n
        |FROM events GROUP BY 1, 2""".stripMargin,
    // the batch twin of the streaming session_window: merge while
    // delta < gap (1801 s, all in exact epoch-µs integers), session end =
    // last event + gap
    "r9_stream_session_windows" ->
      """WITH s AS (SELECT user_id, epoch_us(ts) AS us FROM events),
        |f AS (SELECT user_id, us,
        |        CASE WHEN lag(us) OVER w IS NULL
        |               OR us - lag(us) OVER w >= 1801000000
        |             THEN 1 ELSE 0 END AS new_sess
        |      FROM s WINDOW w AS (PARTITION BY user_id ORDER BY us)),
        |g AS (SELECT user_id, us,
        |        SUM(new_sess) OVER (PARTITION BY user_id ORDER BY us
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |      FROM f)
        |SELECT user_id, MIN(us) AS start_us,
        |       CAST(MAX(us) + 1801000000 AS BIGINT) AS end_us,
        |       count(*) AS n_events
        |FROM g GROUP BY user_id, sid""".stripMargin,
    // the batch twin of the streaming attribution join: same time-range
    // bound in exact µs, lag truncated to whole seconds the way
    // unix_timestamp subtraction truncates
    // r16: the LEFT-OUTER twin — matched rows identical to r10, plus
    // one NULL-purchase row per unmatched click
    "r16_stream_left_outer" ->
      """WITH c AS (
        |  SELECT user_id, event_id AS click_id, epoch_us(ts) AS c_us
        |  FROM events WHERE event_type = 'click'),
        |p AS (
        |  SELECT user_id AS p_user, event_id AS purchase_id, epoch_us(ts) AS p_us
        |  FROM events WHERE event_type = 'purchase')
        |SELECT c.user_id, click_id, purchase_id,
        |       p_us // 1000000 - c_us // 1000000 AS lag_s
        |FROM c LEFT JOIN p ON c.user_id = p_user
        |  AND p_us >= c_us AND p_us <= c_us + 3600000000""".stripMargin,
    // r18: the FULL-OUTER twin — r16's rows plus one NULL-click row per
    // unmatched purchase, user_id coalesced from whichever side exists
    "r18_stream_full_outer" ->
      """WITH c AS (
        |  SELECT user_id, event_id AS click_id, epoch_us(ts) AS c_us
        |  FROM events WHERE event_type = 'click'),
        |p AS (
        |  SELECT user_id AS p_user, event_id AS purchase_id, epoch_us(ts) AS p_us
        |  FROM events WHERE event_type = 'purchase')
        |SELECT COALESCE(c.user_id, p_user) AS user_id, click_id, purchase_id,
        |       p_us // 1000000 - c_us // 1000000 AS lag_s
        |FROM c FULL OUTER JOIN p ON c.user_id = p_user
        |  AND p_us >= c_us AND p_us <= c_us + 3600000000""".stripMargin,
    "r10_stream_attribution" ->
      """WITH c AS (
        |  SELECT user_id, event_id AS click_id, epoch_us(ts) AS c_us
        |  FROM events WHERE event_type = 'click'),
        |p AS (
        |  SELECT user_id, event_id AS purchase_id, epoch_us(ts) AS p_us
        |  FROM events WHERE event_type = 'purchase')
        |SELECT c.user_id, click_id, purchase_id,
        |       p_us // 1000000 - c_us // 1000000 AS lag_s
        |FROM c JOIN p ON c.user_id = p.user_id
        |  AND p_us >= c_us AND p_us <= c_us + 3600000000""".stripMargin,
    // PAV via its minimax characterization f(i) = max_{j<=i} min_{k>=i}
    // avg(j..k) over pooled prefix sums — an INDEPENDENT algorithm from
    // the stack merge. Rationals here are small (num < 2^27, den < 2^14),
    // so ordering by the double num/den is exact: two distinct such
    // fractions differ by >= 1/(den1*den2) >> double resolution.
    "a27_isotonic_fit" ->
      """WITH p AS (
        |  SELECT event_id % 100 AS x,
        |         CAST(SUM(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS cents,
        |         count(*) AS n
        |  FROM events GROUP BY 1),
        |o AS (SELECT x, cents, n, ROW_NUMBER() OVER (ORDER BY x) AS i FROM p),
        |c AS (SELECT i, x, cents, n,
        |        SUM(cents) OVER (ORDER BY i) AS cs,
        |        SUM(n) OVER (ORDER BY i) AS cc FROM o),
        |a AS (SELECT j.i AS j, k.i AS k,
        |        k.cs - COALESCE(jm.cs, 0) AS num,
        |        k.cc - COALESCE(jm.cc, 0) AS den
        |      FROM c j JOIN c k ON k.i >= j.i
        |      LEFT JOIN c jm ON jm.i = j.i - 1),
        |mm AS (SELECT pos.i AS i, a.j, MIN(num * 1.0 / den) AS mn
        |       FROM a JOIN c pos ON pos.i BETWEEN a.j AND a.k
        |       GROUP BY pos.i, a.j),
        |f AS (SELECT i, MAX(mn) AS fitted FROM mm GROUP BY i)
        |SELECT o.x, o.n, o.cents, f.fitted
        |FROM o JOIN f ON f.i = o.i""".stripMargin,
    // exact integer cents*µs numerator and µs denominator; the only
    // float ops are the same IEEE steps Spark performs (long→double,
    // ×100, one divide) — a wide-decimal numerator double-rounds in
    // DuckDB's int128→double cast and loses the last ulp
    "w12_twap" ->
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) AS us,
        |         CAST(round(value * 100, 0) AS BIGINT) AS cents, event_id
        |  FROM events),
        |i AS (
        |  SELECT user_id, cents,
        |         lead(us) OVER (PARTITION BY user_id ORDER BY us, event_id) - us AS dt
        |  FROM e)
        |SELECT user_id, count(*) AS n_intervals,
        |       CAST(SUM(dt) AS BIGINT) AS den_us,
        |       CAST(CAST(SUM(cents * dt) AS BIGINT) AS DOUBLE) /
        |         (CAST(CAST(SUM(dt) AS BIGINT) AS DOUBLE) * 100.0) AS twap
        |FROM i WHERE dt IS NOT NULL
        |GROUP BY user_id""".stripMargin,
    "w4_sessionization" ->
      """WITH s AS (SELECT user_id, event_id, ts, epoch_us(ts) // 1000000 AS sec FROM events),
        |f AS (SELECT user_id, event_id, ts, sec,
        |        CASE WHEN lag(sec) OVER w IS NULL OR sec - lag(sec) OVER w > 1800
        |             THEN 1 ELSE 0 END AS new_sess
        |      FROM s WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |g AS (SELECT user_id, sec,
        |        SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx
        |      FROM f)
        |SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx, count(*) AS n_events,
        |       MIN(sec) AS start_s, MAX(sec) AS end_s, MAX(sec) - MIN(sec) AS dur_s
        |FROM g GROUP BY user_id, session_idx""".stripMargin,
    "a11_percentiles" ->
      """WITH h AS (SELECT l_returnflag AS flag, l_extendedprice AS v, count(*) AS cnt
        |           FROM lineitem GROUP BY 1, 2),
        |c AS (SELECT flag, v, cnt,
        |        SUM(cnt) OVER (PARTITION BY flag ORDER BY v
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |        SUM(cnt) OVER (PARTITION BY flag) AS tot
        |      FROM h)
        |SELECT flag, CAST(MAX(tot) AS BIGINT) AS n,
        |       MIN(CASE WHEN cum * 100 >= tot * 50 THEN v END) AS p50,
        |       MIN(CASE WHEN cum * 100 >= tot * 90 THEN v END) AS p90,
        |       MIN(CASE WHEN cum * 100 >= tot * 99 THEN v END) AS p99
        |FROM c GROUP BY flag""".stripMargin,
    "a23_mad_outliers" ->
      """WITH h AS (SELECT event_type, value AS v, count(*) AS cnt
        |           FROM events GROUP BY 1, 2),
        |c AS (SELECT event_type, v, cnt,
        |        SUM(cnt) OVER (PARTITION BY event_type ORDER BY v
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |        SUM(cnt) OVER (PARTITION BY event_type) AS tot
        |      FROM h),
        |med AS (SELECT event_type,
        |          MIN(CASE WHEN cum * 100 >= tot * 50 THEN v END) AS med
        |        FROM c GROUP BY 1),
        |dev AS (SELECT e.event_type, abs(e.value - m.med) AS dv, m.med
        |        FROM events e JOIN med m USING (event_type)),
        |h2 AS (SELECT event_type, dv, count(*) AS cnt FROM dev GROUP BY 1, 2),
        |c2 AS (SELECT event_type, dv, cnt,
        |         SUM(cnt) OVER (PARTITION BY event_type ORDER BY dv
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |         SUM(cnt) OVER (PARTITION BY event_type) AS tot
        |       FROM h2),
        |mad AS (SELECT event_type,
        |          MIN(CASE WHEN cum * 100 >= tot * 50 THEN dv END) AS mad
        |        FROM c2 GROUP BY 1)
        |SELECT d.event_type, count(*) AS n, MAX(d.med) AS med, MAX(a.mad) AS mad,
        |       CAST(SUM(CASE WHEN d.dv > 3.0 * a.mad THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_outliers
        |FROM dev d JOIN mad a USING (event_type)
        |GROUP BY 1""".stripMargin,
    "w11_fill_forward" ->
      """SELECT user_id, event_id, sparse_v,
        |  last_value(sparse_v IGNORE NULLS) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled
        |FROM (
        |  SELECT user_id, ts, event_id,
        |    CASE WHEN event_type IN ('purchase', 'error') THEN value END AS sparse_v
        |  FROM events)""".stripMargin,
    "w10_trailing_anomaly" ->
      """SELECT user_id, event_id, value,
        |       CAST(n_trailing AS BIGINT) AS n_trailing,
        |       CAST(s AS DOUBLE) AS trailing_sum
        |FROM (
        |  SELECT user_id, event_id, value,
        |    SUM(CAST(value AS DECIMAL(18,2))) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id ROWS BETWEEN 5 PRECEDING AND 1 PRECEDING) AS s,
        |    COUNT(*) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id ROWS BETWEEN 5 PRECEDING AND 1 PRECEDING) AS n_trailing
        |  FROM events)
        |WHERE n_trailing >= 3 AND CAST(value AS DECIMAL(18,2)) * n_trailing > s * 2""".stripMargin,
    "j9_interval_join" ->
      """SELECT c.event_id, count(*) AS n_bands
        |FROM (SELECT event_id, value FROM events WHERE event_type = 'click') c
        |JOIN (SELECT value - 1 AS lo, value + 1 AS hi FROM events
        |      WHERE event_type = 'purchase') b
        |  ON c.value >= b.lo AND c.value <= b.hi
        |GROUP BY c.event_id""".stripMargin,
    "a21_decayed_counts" -> a21OracleSql,
    "a16_retention_cohorts" ->
      """WITH first AS (SELECT user_id, MIN(CAST(ts AS DATE)) AS cohort FROM events GROUP BY user_id),
        |act AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
        |ret AS (SELECT f.cohort, f.user_id,
        |          MAX(CASE WHEN a.day = f.cohort + INTERVAL 7 DAY THEN 1 ELSE 0 END) AS d7
        |        FROM first f JOIN act a USING (user_id) GROUP BY f.cohort, f.user_id)
        |SELECT strftime(cohort, '%Y-%m-%d') AS cohort, count(*) AS n_users,
        |       CAST(SUM(d7) AS BIGINT) AS retained_d7
        |FROM ret GROUP BY cohort""".stripMargin,
    "g1_pagerank" -> g1OracleSql,
    "g2_personalized_pagerank" -> g2OracleSql,
    "g3_converged_pagerank" -> pagerankUnrolledSql(
      10, "SELECT node, rank, CAST(10 AS BIGINT) AS iterations FROM r10"),
    "j14_returned_items" ->
      """SELECT c_custkey, c_name, c_acctbal, n_name,
        |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |                (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
        |FROM customer, orders, lineitem, nation
        |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
        |  AND o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1996-04-01'
        |  AND l_returnflag = 'R'
        |  AND c_nationkey = n_nationkey
        |GROUP BY c_custkey, c_name, c_acctbal, n_name
        |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin,
    "j15_large_orders" ->
      """WITH big AS (
        |  SELECT l_orderkey, sum(l_quantity) AS total_qty
        |  FROM lineitem GROUP BY 1 HAVING sum(l_quantity) > 250)
        |SELECT c_custkey, c_name, o_orderkey,
        |       strftime(o_orderdate, '%Y-%m-%d') AS order_date,
        |       o_totalprice, total_qty
        |FROM orders
        |JOIN big ON o_orderkey = l_orderkey
        |JOIN customer ON o_custkey = c_custkey""".stripMargin,
    "j16_cheapest_supplier" ->
      """WITH m AS (
        |  SELECT l_partkey AS mk, min(l_extendedprice) AS min_price
        |  FROM lineitem GROUP BY 1)
        |SELECT l_partkey, l_suppkey, s_name, min_price
        |FROM lineitem
        |JOIN m ON l_partkey = mk AND l_extendedprice = min_price
        |JOIN supplier ON l_suppkey = s_suppkey""".stripMargin,
    "j17_priority_semi" ->
      """SELECT o_orderpriority, count(*) AS n_orders
        |FROM orders
        |WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem
        |                     WHERE l_returnflag = 'R')
        |GROUP BY 1""".stripMargin,
    "j18_reconcile_diff" ->
      """WITH l AS (SELECT o_orderkey AS k, o_totalprice AS v FROM orders),
        |r AS (SELECT o_orderkey AS k,
        |             CASE WHEN o_orderkey % 13 = 0 THEN o_totalprice + 1.0
        |                  ELSE o_totalprice END AS v
        |      FROM orders WHERE o_orderkey % 97 <> 0)
        |SELECT CASE WHEN l.k IS NULL THEN 'missing_left'
        |            WHEN r.k IS NULL THEN 'missing_right'
        |            WHEN l.v = r.v THEN 'match'
        |            ELSE 'value_mismatch' END AS class,
        |       count(*) AS n
        |FROM l FULL OUTER JOIN r ON l.k = r.k
        |GROUP BY 1""".stripMargin,
    "g4_triangle_count" ->
      """WITH l AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |e AS (SELECT DISTINCT a.l_partkey AS a, b.l_partkey AS b
        |      FROM l a JOIN l b
        |        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
        |tri AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
        |        FROM e e1
        |        JOIN e e2 ON e1.a = e2.a AND e1.b < e2.b
        |        JOIN e e3 ON e3.a = e1.b AND e3.b = e2.b)
        |SELECT node, count(*) AS n_triangles FROM (
        |  SELECT x AS node FROM tri
        |  UNION ALL SELECT y FROM tri
        |  UNION ALL SELECT z FROM tri)
        |GROUP BY node ORDER BY n_triangles DESC, node LIMIT 20""".stripMargin,
    "g5_common_neighbors" ->
      """WITH l AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |e AS (SELECT DISTINCT a.l_partkey AS a, b.l_partkey AS b
        |      FROM l a JOIN l b
        |        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
        |tri AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
        |        FROM e e1
        |        JOIN e e2 ON e1.a = e2.a AND e1.b < e2.b
        |        JOIN e e3 ON e3.a = e1.b AND e3.b = e2.b),
        |cnt AS (
        |  SELECT a, b, count(*) AS n FROM (
        |    SELECT x AS a, y AS b FROM tri
        |    UNION ALL SELECT x, z FROM tri
        |    UNION ALL SELECT y, z FROM tri)
        |  GROUP BY a, b),
        |deg AS (
        |  SELECT node, count(*) AS deg FROM (
        |    SELECT a AS node FROM e UNION ALL SELECT b FROM e)
        |  GROUP BY node)
        |SELECT e.a, e.b, da.deg AS deg_a, db.deg AS deg_b,
        |       COALESCE(cnt.n, 0) AS cn,
        |       CAST(COALESCE(cnt.n, 0) AS DOUBLE) /
        |         CAST(da.deg + db.deg - COALESCE(cnt.n, 0) AS DOUBLE) AS jaccard
        |FROM e
        |JOIN deg da ON da.node = e.a
        |JOIN deg db ON db.node = e.b
        |LEFT JOIN cnt ON cnt.a = e.a AND cnt.b = e.b
        |ORDER BY cn DESC, e.a, e.b LIMIT 20""".stripMargin,
    // BFS = min hop count: the recursive CTE enumerates (node, d) pairs
    // breadth-first up to 3 hops over the symmetrized co-occurrence
    // the chain-block components are a CLOSED FORM: label = block start.
    // Spark must actually converge (diameter 49) to state the same fact.
    "g9_connected_components" ->
      """SELECT doc_id AS node, doc_id - doc_id % 50 AS label
        |FROM documents""".stripMargin,
    "g8_hits" ->
      """WITH e AS (
        |  SELECT DISTINCT o.o_custkey AS src, l.l_partkey AS dst
        |  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
        |a1 AS (
        |  SELECT dst AS node, CAST(COUNT(*) AS BIGINT) AS s FROM e GROUP BY dst),
        |h1 AS (
        |  SELECT e.src AS node, CAST(SUM(a1.s) AS BIGINT) AS s
        |  FROM e JOIN a1 ON e.dst = a1.node GROUP BY e.src),
        |a2 AS (
        |  SELECT e.dst AS node, CAST(SUM(h1.s) AS BIGINT) AS s
        |  FROM e JOIN h1 ON e.src = h1.node GROUP BY e.dst)
        |SELECT node, s AS authority FROM a2
        |ORDER BY authority DESC, node ASC
        |LIMIT 20""".stripMargin,
    // edges; min(d) per node equals the frontier iteration's first
    // sighting. Seeds (customer 1's parts) sit at distance 0.
    "g7_min_label_prop" ->
      """WITH l AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |e0 AS (SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
        |       FROM l a JOIN l b
        |         ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
        |e AS (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
        |n AS (SELECT DISTINCT src AS node FROM e),
        |l0 AS (SELECT node, node AS label FROM n),
        |l1 AS (SELECT node, MIN(label) AS label FROM (
        |  SELECT node, label FROM l0
        |  UNION ALL SELECT e.dst AS node, l0.label FROM e JOIN l0 ON e.src = l0.node
        |) t GROUP BY node),
        |l2 AS (SELECT node, MIN(label) AS label FROM (
        |  SELECT node, label FROM l1
        |  UNION ALL SELECT e.dst AS node, l1.label FROM e JOIN l1 ON e.src = l1.node
        |) t GROUP BY node),
        |l3 AS (SELECT node, MIN(label) AS label FROM (
        |  SELECT node, label FROM l2
        |  UNION ALL SELECT e.dst AS node, l2.label FROM e JOIN l2 ON e.src = l2.node
        |) t GROUP BY node),
        |l4 AS (SELECT node, MIN(label) AS label FROM (
        |  SELECT node, label FROM l3
        |  UNION ALL SELECT e.dst AS node, l3.label FROM e JOIN l3 ON e.src = l3.node
        |) t GROUP BY node)
        |SELECT node, label FROM l4""".stripMargin,
    "g6_hop_distance" ->
      """WITH RECURSIVE l AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |e0 AS (SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
        |       FROM l a JOIN l b
        |         ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
        |e AS (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
        |seeds AS (
        |  SELECT DISTINCT li.l_partkey AS pk
        |  FROM lineitem li JOIN orders o ON li.l_orderkey = o.o_orderkey
        |  WHERE o.o_custkey = 1),
        |bfs(node, d) AS (
        |  SELECT pk, 0 FROM seeds
        |  UNION
        |  SELECT e.dst, b.d + 1 FROM bfs b JOIN e ON e.src = b.node
        |  WHERE b.d < 3)
        |SELECT node, CAST(min(d) AS BIGINT) AS dist FROM bfs GROUP BY node""".stripMargin,
    "j19_sole_late_supplier" ->
      """WITH late AS (
        |  SELECT l.l_orderkey AS ok, l.l_suppkey AS sk
        |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |  WHERE o.o_orderstatus = 'F'
        |    AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
        |SELECT s_name, count(*) AS numwait
        |FROM late l1 JOIN supplier ON l1.sk = s_suppkey
        |WHERE EXISTS (SELECT 1 FROM lineitem l2
        |              WHERE l2.l_orderkey = l1.ok AND l2.l_suppkey <> l1.sk)
        |  AND NOT EXISTS (SELECT 1 FROM late l3
        |                  WHERE l3.ok = l1.ok AND l3.sk <> l1.sk)
        |GROUP BY s_name ORDER BY numwait DESC, s_name LIMIT 20""".stripMargin,
    "j20_excess_share" ->
      """WITH ps AS (
        |  SELECT l_partkey, l_suppkey,
        |         sum(CAST(l_quantity AS DECIMAL(18,2))) AS sq
        |  FROM lineitem GROUP BY 1, 2),
        |tot AS (SELECT l_partkey, sum(sq) AS tq, count(*) AS ns
        |        FROM ps GROUP BY 1)
        |SELECT s_suppkey, s_name, count(*) AS n_parts
        |FROM ps
        |JOIN tot USING (l_partkey)
        |JOIN part ON p_partkey = l_partkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |WHERE p_size > 40
        |  AND CAST(sq AS DOUBLE) > 2.0 * (CAST(tq AS DOUBLE) / ns)
        |GROUP BY 1, 2 ORDER BY n_parts DESC, s_suppkey LIMIT 20""".stripMargin,
    "w9_gaps_islands" ->
      """WITH act AS (
        |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
        |flagged AS (
        |  SELECT user_id, day,
        |         CASE WHEN lag(day) OVER w IS NULL
        |                OR day - lag(day) OVER w > 1 THEN 1 ELSE 0 END AS new_island
        |  FROM act
        |  WINDOW w AS (PARTITION BY user_id ORDER BY day)),
        |isl AS (
        |  SELECT user_id, day,
        |         sum(new_island) OVER (PARTITION BY user_id ORDER BY day
        |                               ROWS UNBOUNDED PRECEDING) AS island
        |  FROM flagged)
        |SELECT user_id, CAST(island AS BIGINT) AS island,
        |       strftime(min(day), '%Y-%m-%d') AS island_start,
        |       strftime(max(day), '%Y-%m-%d') AS island_end,
        |       count(*) AS n_days
        |FROM isl GROUP BY user_id, island""".stripMargin,
    "w8_scd2_intervals" ->
      """WITH ordered AS (
        |  SELECT user_id, ts, event_id, event_type,
        |         lag(event_type) OVER w AS prev_type
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |changes AS (
        |  SELECT user_id, ts, event_id, event_type,
        |         lead(ts) OVER (PARTITION BY user_id
        |                        ORDER BY ts, event_id) AS next_ts
        |  FROM ordered
        |  WHERE prev_type IS NULL OR prev_type <> event_type)
        |SELECT user_id, event_type,
        |       strftime(ts, '%Y-%m-%d %H:%M:%S') AS valid_from,
        |       strftime(next_ts, '%Y-%m-%d %H:%M:%S') AS valid_to,
        |       next_ts IS NULL AS is_current
        |FROM changes""".stripMargin,
    "a15_funnel_conversion" ->
      """WITH s1 AS (SELECT user_id, MIN(ts) AS t1 FROM events
        |            WHERE event_type = 'signup' GROUP BY user_id),
        |s2 AS (SELECT e.user_id, MIN(e.ts) AS t2 FROM events e JOIN s1 USING (user_id)
        |       WHERE e.event_type = 'click' AND e.ts > s1.t1 GROUP BY e.user_id),
        |s3 AS (SELECT e.user_id, MIN(e.ts) AS t3 FROM events e JOIN s2 USING (user_id)
        |       WHERE e.event_type = 'purchase' AND e.ts > s2.t2 GROUP BY e.user_id)
        |SELECT 1 AS stage, 'signup' AS step, count(*) AS n_users FROM s1
        |UNION ALL SELECT 2, 'click_after_signup', count(*) FROM s2
        |UNION ALL SELECT 3, 'purchase_after_click', count(*) FROM s3""".stripMargin,
    "w7_first_touch" ->
      """SELECT user_id, event_id,
        |  first_value(event_type) OVER w AS first_touch,
        |  last_value(event_type) OVER w AS last_touch
        |FROM events WHERE event_id < 3000
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)""".stripMargin,
    "a14_rolling_dau" ->
      """WITH act AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
        |days AS (SELECT DISTINCT day FROM act),
        |expanded AS (
        |  SELECT DISTINCT a.user_id, d.day
        |  FROM act a JOIN days d
        |    ON d.day >= a.day AND d.day <= a.day + INTERVAL 6 DAY)
        |SELECT strftime(day, '%Y-%m-%d') AS day, count(*) AS dau7
        |FROM expanded GROUP BY day""".stripMargin,
    "x4_except_all" ->
      """SELECT user_id, event_type FROM events WHERE CAST(ts AS DATE) = DATE '2024-01-01'
        |EXCEPT ALL
        |SELECT user_id, event_type FROM events WHERE CAST(ts AS DATE) = DATE '2024-01-02'""".stripMargin,
    "x5_intersect_all" ->
      """SELECT user_id, event_type FROM events WHERE CAST(ts AS DATE) = DATE '2024-01-01'
        |INTERSECT ALL
        |SELECT user_id, event_type FROM events WHERE CAST(ts AS DATE) = DATE '2024-01-02'""".stripMargin,
    // partsupp is synthesized from the distinct traded (partkey, suppkey)
    // pairs with the SAME closed-form supply cost the Spark side builds —
    // the p1-gate construction; all arithmetic exact decimal until the
    // final double cast
    "j34_product_profit" ->
      """WITH ps AS (
        |  SELECT DISTINCT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey
        |  FROM lineitem),
        |ps2 AS (
        |  SELECT ps_partkey, ps_suppkey,
        |         CAST((7 * ps_partkey + 3 * ps_suppkey) % 1000 + 1 AS DECIMAL(18,2)) AS ps_supplycost
        |  FROM ps)
        |SELECT n_name AS nation,
        |       CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS o_year,
        |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |                (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))
        |                - ps_supplycost * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_profit
        |FROM lineitem, part, supplier, nation, orders, ps2
        |WHERE p_partkey = l_partkey AND s_suppkey = l_suppkey
        |  AND ps_partkey = l_partkey AND ps_suppkey = l_suppkey
        |  AND o_orderkey = l_orderkey AND s_nationkey = n_nationkey
        |  AND p_name LIKE '%red%'
        |GROUP BY 1, 2
        |ORDER BY nation, o_year DESC""".stripMargin,
    "j33_forecast_revenue" ->
      """SELECT
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |           CAST(l_discount AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
        |  count(*) AS n_items
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        |  AND l_shipdate < TIMESTAMP '1998-01-01'
        |  AND l_discount BETWEEN 0.05 AND 0.07
        |  AND l_quantity < 24""".stripMargin,
    "j32_top_supplier" ->
      """WITH rev AS (
        |  SELECT l_suppkey,
        |         SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |             (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
        |           AS rev_dec
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        |    AND l_shipdate < TIMESTAMP '1997-04-01'
        |  GROUP BY 1)
        |SELECT s_suppkey, s_name, CAST(rev_dec AS DOUBLE) AS total_revenue
        |FROM rev JOIN supplier ON l_suppkey = s_suppkey
        |WHERE rev_dec = (SELECT MAX(rev_dec) FROM rev)""".stripMargin,
    "j31_market_share" ->
      """SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
        |  CAST(SUM(CASE WHEN n2.n_name = 'NATION_5'
        |    THEN CAST(l_extendedprice AS DECIMAL(18,2)) *
        |         (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))
        |    ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) AS nation_rev,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |           (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
        |    AS total_rev,
        |  CAST(SUM(CASE WHEN n2.n_name = 'NATION_5'
        |    THEN CAST(l_extendedprice AS DECIMAL(18,2)) *
        |         (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))
        |    ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) /
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |           (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
        |    AS mkt_share
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation n1 ON c_nationkey = n1.n_nationkey
        |JOIN region ON n1.n_regionkey = r_regionkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation n2 ON s_nationkey = n2.n_nationkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1998-01-01'
        |GROUP BY 1""".stripMargin,
    "j30_shipmode_priority" ->
      """SELECT l_linestatus,
        |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |                THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |  CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
        |                THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        |  AND l_shipdate < TIMESTAMP '1998-01-01'
        |  AND l_shipdate > o_orderdate + INTERVAL 30 DAY
        |GROUP BY 1""".stripMargin,
    "j29_promo_share" ->
      """SELECT
        |  CAST(SUM(CASE WHEN p_type = 'PROMO'
        |    THEN CAST(l_extendedprice AS DECIMAL(18,2)) *
        |         (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))
        |    ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) AS promo_revenue,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |           (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
        |    AS total_revenue,
        |  CAST(SUM(CASE WHEN p_type = 'PROMO'
        |    THEN CAST(l_extendedprice AS DECIMAL(18,2)) *
        |         (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))
        |    ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) * 100.0 /
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |           (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
        |    AS promo_pct
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        |  AND l_shipdate < TIMESTAMP '1997-04-01'""".stripMargin,
    "j12_shipping_priority" ->
      """SELECT l_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS order_date,
        |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |                (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
        |FROM customer, orders, lineitem
        |WHERE c_mktsegment = 'BUILDING'
        |  AND c_custkey = o_custkey AND l_orderkey = o_orderkey
        |  AND o_orderdate < TIMESTAMP '1998-06-30'
        |  AND l_shipdate > TIMESTAMP '1998-06-30'
        |GROUP BY l_orderkey, o_orderdate
        |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin,
    "j13_local_supplier_volume" ->
      """SELECT n_name,
        |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |                (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
        |       count(*) AS n_items
        |FROM customer, orders, lineitem, supplier, nation, region
        |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
        |  AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
        |  AND r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1997-01-01'
        |GROUP BY n_name""".stripMargin,
    "j22_volume_shipping" ->
      """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |       CAST(year(l_shipdate) AS BIGINT) AS l_year,
        |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |                (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
        |       count(*) AS n_items
        |FROM lineitem, orders, customer, supplier, nation n1, nation n2
        |WHERE l_orderkey = o_orderkey AND o_custkey = c_custkey
        |  AND l_suppkey = s_suppkey
        |  AND s_nationkey = n1.n_nationkey AND c_nationkey = n2.n_nationkey
        |  AND n1.n_name IN ('NATION_1', 'NATION_2')
        |  AND n2.n_name IN ('NATION_1', 'NATION_2')
        |  AND n1.n_name <> n2.n_name
        |  AND l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1998-01-01'
        |GROUP BY 1, 2, 3""".stripMargin,
    "j23_small_qty_orders" ->
      """WITH pk AS (SELECT p_partkey FROM part
        |            WHERE p_brand = 'Brand#23' AND p_type = 'PROMO'),
        |     l AS (SELECT l_partkey, l_quantity, l_extendedprice
        |           FROM lineitem JOIN pk ON l_partkey = p_partkey),
        |     per AS (SELECT l_partkey,
        |                    SUM(CAST(l_quantity AS DECIMAL(18,2))) AS qty_sum,
        |                    count(*) AS qty_cnt
        |             FROM l GROUP BY 1)
        |SELECT count(*) AS n_small,
        |       CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0
        |         AS avg_yearly
        |FROM l JOIN per USING (l_partkey)
        |WHERE CAST(l.l_quantity AS DECIMAL(18,2)) * per.qty_cnt * 5 < per.qty_sum""".stripMargin,
    "j24_no_order_rich" ->
      """WITH bal AS (
        |  SELECT SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS bal_sum, count(*) AS bal_cnt
        |  FROM customer WHERE c_acctbal > 0)
        |SELECT CAST(c_nationkey AS BIGINT) AS nationkey, count(*) AS n_cust,
        |       CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
        |FROM customer, bal
        |WHERE CAST(c_acctbal AS DECIMAL(18,2)) * bal.bal_cnt > bal.bal_sum
        |  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
        |                  AND o_orderdate >= TIMESTAMP '2000-01-01')
        |GROUP BY 1""".stripMargin,
    "j25_order_count_dist" ->
      """SELECT c_count, count(*) AS custdist FROM (
        |  SELECT c.c_custkey, count(o.o_orderkey) AS c_count
        |  FROM customer c LEFT OUTER JOIN
        |    (SELECT o_orderkey, o_custkey FROM orders
        |     WHERE o_orderpriority <> '1-URGENT') o
        |    ON c.c_custkey = o.o_custkey
        |  GROUP BY 1)
        |GROUP BY 1""".stripMargin,
    "j26_supplier_cnt" ->
      """WITH ps AS (
        |  SELECT DISTINCT l_partkey, l_suppkey FROM lineitem
        |  WHERE l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0))
        |SELECT p_brand, p_type, p_size,
        |       count(DISTINCT l_suppkey) AS supplier_cnt
        |FROM ps JOIN part ON l_partkey = p_partkey
        |WHERE p_brand <> 'Brand#1' AND p_type NOT LIKE 'MEDIUM%'
        |  AND p_size IN (1, 9, 17, 25, 33, 41, 49)
        |GROUP BY 1, 2, 3""".stripMargin,
    "j27_value_share" ->
      """WITH l AS (
        |  SELECT l_partkey, l_extendedprice, l_discount FROM lineitem
        |  WHERE l_suppkey IN (
        |    SELECT s_suppkey FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |    WHERE n_name = 'NATION_3')),
        |     per AS (
        |  SELECT l_partkey,
        |         SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |             (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
        |           AS value_dec
        |  FROM l GROUP BY 1),
        |     tot AS (SELECT SUM(value_dec) AS total_dec FROM per)
        |SELECT l_partkey, CAST(value_dec AS DOUBLE) AS part_value
        |FROM per, tot WHERE value_dec * 1000 > tot.total_dec""".stripMargin,
    "j28_disjunctive_pred" ->
      """SELECT
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |           (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
        |    AS revenue,
        |  count(*) AS n_items
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
        |        AND l_quantity BETWEEN 1 AND 11)
        |   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
        |        AND l_quantity BETWEEN 10 AND 20)
        |   OR (p_brand = 'Brand#15' AND p_size BETWEEN 1 AND 15
        |        AND l_quantity BETWEEN 20 AND 30)""".stripMargin,
    "j11_range_lookup" ->
      """WITH tiers AS (
        |  -- CAST(0.15 AS DOUBLE): DuckDB parses the bare literal as
        |  -- DECIMAL and would produce exact-decimal bounds; the Scala
        |  -- side computes double products (0.15 * (i*i), one rounding)
        |  SELECT CAST(i AS INT) AS tier, CAST(0.15 AS DOUBLE) * (i*i) AS lo,
        |         CASE WHEN i = 63 THEN 1e308
        |              ELSE CAST(0.15 AS DOUBLE) * ((i+1)*(i+1)) END AS hi
        |  FROM range(0, 64) t(i))
        |SELECT t.tier, count(*) AS n,
        |       CAST(SUM(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE) AS total,
        |       t.lo AS tier_lo
        |FROM events e JOIN tiers t ON e.value >= t.lo AND e.value < t.hi
        |GROUP BY t.tier, t.lo""".stripMargin,
    "j10_overlap_join" ->
      """SELECT p_id, count(*) AS n_overlaps
        |FROM (SELECT event_id AS p_id, value - 2 AS p_lo, value + 2 AS p_hi
        |      FROM events WHERE event_type = 'purchase') p
        |JOIN (SELECT value - 1 AS c_lo, value + 1 AS c_hi
        |      FROM events WHERE event_type = 'click') c
        |  ON p.p_lo <= c.c_hi AND c.c_lo <= p.p_hi
        |GROUP BY p_id""".stripMargin,
    "w6_rank_distributions" ->
      """SELECT event_id, event_type,
        |  percent_rank() OVER w AS pr,
        |  cume_dist() OVER w AS cd,
        |  CAST(ntile(4) OVER w AS BIGINT) AS quartile
        |FROM events WHERE event_id < 2000
        |WINDOW w AS (PARTITION BY event_type ORDER BY value, event_id)""".stripMargin,
    "o3_topk_per_group" ->
      """SELECT event_type, event_id, value, CAST(rank AS INT) AS rank FROM (
        |  SELECT event_type, event_id, value,
        |    row_number() OVER (PARTITION BY event_type
        |      ORDER BY value DESC, event_id ASC) AS rank
        |  FROM events)
        |WHERE rank <= 3""".stripMargin,
    "a26_mode_per_key" ->
      """WITH h AS (
        |  SELECT event_type, event_id % 100 AS v, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2),
        |r AS (
        |  SELECT event_type, v, n,
        |         ROW_NUMBER() OVER (PARTITION BY event_type
        |                            ORDER BY n DESC, v ASC) AS rn
        |  FROM h)
        |SELECT event_type, CAST(v AS BIGINT) AS mode_v, n AS mode_n
        |FROM r WHERE rn = 1""".stripMargin,
    "a25_weighted_quantiles" ->
      """WITH h AS (
        |  SELECT event_type, event_id % 1000 AS v, SUM(event_id % 7 + 1) AS w
        |  FROM events GROUP BY 1, 2),
        |c AS (
        |  SELECT event_type, v, w,
        |         SUM(w) OVER (PARTITION BY event_type ORDER BY v ASC
        |                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |         SUM(w) OVER (PARTITION BY event_type) AS tot
        |  FROM h)
        |SELECT event_type,
        |       CAST(MAX(tot) AS BIGINT) AS total_w,
        |       CAST(MIN(CASE WHEN cum * 100 >= tot * 25 THEN v END) AS BIGINT) AS p25,
        |       CAST(MIN(CASE WHEN cum * 100 >= tot * 50 THEN v END) AS BIGINT) AS p50,
        |       CAST(MIN(CASE WHEN cum * 100 >= tot * 90 THEN v END) AS BIGINT) AS p90
        |FROM c GROUP BY event_type""".stripMargin,
    "a24_cube" ->
      """SELECT o_orderstatus, o_orderpriority,
        |  CAST(GROUPING(o_orderstatus) * 2 + GROUPING(o_orderpriority) AS BIGINT) AS gid,
        |  count(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders
        |GROUP BY CUBE (o_orderstatus, o_orderpriority)""".stripMargin,
    "a13_grouping_sets" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n,
        |       CAST(SUM(CASE WHEN o_totalprice > 100000 THEN 1 ELSE 0 END) AS BIGINT) AS n_big
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())""".stripMargin,
    "w5_rolling_counts" ->
      """SELECT user_id, event_id,
        |  CAST(count(*) OVER (PARTITION BY user_id ORDER BY epoch_us(ts) // 1000000
        |    RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW) AS BIGINT) AS n_1h
        |FROM events""".stripMargin,
    "a12_pivot" ->
      """SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
        |  CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click,
        |  CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error,
        |  CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
        |  CAST(SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup,
        |  CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS view
        |FROM events GROUP BY 1""".stripMargin,
    "c1_safe_long_hex" ->
      "SELECT event_id, event_id AS parsed FROM events",
    "c18_date_arith" ->
      """SELECT o_orderkey,
        |  strftime(o_orderdate + INTERVAL 3 MONTH, '%Y-%m-%d') AS plus3m,
        |  CAST(date_diff('day', CAST(o_orderdate AS DATE), DATE '2000-01-01') AS INT)
        |    AS days_to_2000,
        |  strftime(last_day(CAST(o_orderdate AS DATE)), '%Y-%m-%d') AS month_end,
        |  strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS month_start,
        |  CAST(quarter(o_orderdate) AS INT) AS q,
        |  CAST(isodow(o_orderdate) - 1 AS INT) AS wd
        |FROM orders WHERE o_orderkey < 2000""".stripMargin,
    "c17_edit_distance" ->
      """SELECT doc_id,
        |  CAST(levenshtein(substr(text, 1, 20), substr(text, 21, 20)) AS INT) AS dist,
        |  CAST(CASE WHEN levenshtein(substr(text, 1, 20), substr(text, 21, 20)) <= 5
        |            THEN levenshtein(substr(text, 1, 20), substr(text, 21, 20))
        |            ELSE -1 END AS INT) AS dist_capped
        |FROM documents WHERE doc_id < 500""".stripMargin,
    "c3_payload_hash" ->
      "SELECT event_id, substr(sha256(replace(props, ' ', '')), 1, 16) AS h FROM events",
    "c4_popcount" ->
      """SELECT event_id, CAST(bit_count(event_id) AS INT) AS pc,
        |       CAST(bit_count(event_id) AS INT) AS pc2
        |FROM events WHERE event_id < 1000""".stripMargin,
    "c5_hex_byte_length" ->
      "SELECT event_id, CAST(length(hex(event_id)) // 2 AS INT) AS n_bytes FROM events WHERE event_id < 2000",
    "j7_cross_one_row" ->
      """SELECT (SELECT count(*) FROM region) AS n_regions,
        |       (SELECT count(*) FROM nation) AS n_nations""".stripMargin,
    "c8_slot_timestamp" ->
      """SELECT event_id AS slot,
        |       strftime(make_timestamp((1638993340 + event_id * 5) * 1000000),
        |                '%Y-%m-%d %H:%M:%S') AS slot_ts
        |FROM events WHERE event_id < 500""".stripMargin,
    "c9_epoch_rollup" ->
      "SELECT event_id // 16 AS epoch, count(*) AS n FROM events GROUP BY 1",
    "c14_json_probe" ->
      """SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
        |FROM events WHERE event_id < 500""".stripMargin,
    "d1_chunk_plan" ->
      """SELECT event_id // 100 AS chunk_id, MIN(event_id) AS start_id,
        |       MAX(event_id) AS end_id, count(*) AS n
        |FROM events GROUP BY 1""".stripMargin,
    // the deposits closed forms recomputed relationally: the t17
    // bounded-range trick enumerates entry indices under the per-row
    // arity (event_id % 3), every field a string/arith build
    "p3_deposits" ->
      """WITH n AS (
        |  SELECT event_id, event_id % 3 AS n FROM events WHERE event_id < 3000),
        |x AS (
        |  SELECT event_id, r.j FROM n CROSS JOIN range(0, 2) r(j) WHERE r.j < n.n)
        |SELECT CAST(event_id * 10000 AS BIGINT) AS slot,
        |       CAST(j AS BIGINT) AS deposit_index,
        |       '0xp' || event_id::VARCHAR || '_' || j::VARCHAR AS pubkey,
        |       '0xw' || event_id::VARCHAR AS withdrawal_credentials,
        |       CAST(event_id * 7 + j AS BIGINT) AS amount,
        |       '0xsg' || event_id::VARCHAR AS signature,
        |       CAST(1 AS BIGINT) AS proof_len,
        |       '0xa' || event_id::VARCHAR || '_' || j::VARCHAR AS proof_first
        |FROM x""".stripMargin,
    "p2_attestations" ->
      """WITH n AS (
        |  SELECT event_id, event_id % 3 AS n FROM events WHERE event_id < 3000),
        |x AS (
        |  SELECT event_id, r.j FROM n CROSS JOIN range(0, 2) r(j) WHERE r.j < n.n)
        |SELECT CAST(event_id * 10000 AS BIGINT) AS slot,
        |       CAST(j AS BIGINT) AS attestation_index,
        |       '0x' || event_id::VARCHAR AS aggregation_bits,
        |       '0xs' || event_id::VARCHAR || '_' || j::VARCHAR AS signature,
        |       CAST(CASE WHEN j = 1 THEN event_id * 10000
        |                 ELSE event_id * 32 + j END AS BIGINT) AS attestation_slot,
        |       CAST(j AS BIGINT) AS committee_index,
        |       '0xb' || event_id::VARCHAR AS beacon_block_root,
        |       CAST(event_id + j AS BIGINT) AS source_epoch,
        |       '0xsr' || j::VARCHAR AS source_root,
        |       CAST(event_id + j + 1 AS BIGINT) AS target_epoch,
        |       '0xtr' || j::VARCHAR AS target_root
        |FROM x""".stripMargin,
    "p6_attester_slashings" ->
      """SELECT CAST(event_id * 10000 AS BIGINT) AS slot,
        |       CAST(0 AS BIGINT) AS slashing_index,
        |       CAST(event_id AS BIGINT) AS att_1_slot,
        |       CAST(event_id AS BIGINT) AS att_1_source_epoch,
        |       CAST(event_id + 1 AS BIGINT) AS att_1_target_epoch,
        |       '0xa1_' || event_id::VARCHAR AS att_1_signature,
        |       '0xa2_' || event_id::VARCHAR AS att_2_signature,
        |       CAST(event_id % 7 AS BIGINT) AS att_1_first_idx,
        |       CAST(event_id % 7 + 1 AS BIGINT) AS att_2_first_idx,
        |       CAST(2 AS BIGINT) AS att_1_validator_count,
        |       CAST(2 AS BIGINT) AS att_2_validator_count,
        |       CAST(3 AS BIGINT) AS total_slashed_validators
        |FROM events WHERE event_id < 3000 AND event_id % 3 <> 0""".stripMargin,
    "p13_blob_sidecars" ->
      """WITH n AS (
        |  SELECT event_id, event_id % 3 AS n FROM events WHERE event_id < 1500),
        |x AS (
        |  SELECT event_id, r.j FROM n CROSS JOIN range(0, 2) r(j) WHERE r.j < n.n)
        |SELECT CAST(event_id * 10 AS BIGINT) AS slot,
        |       CAST(event_id * 2 + j AS BIGINT) AS blob_index,
        |       '0xkc' || event_id::VARCHAR || '_' || j::VARCHAR AS kzg_commitment,
        |       '0xkp' || event_id::VARCHAR AS kzg_proof,
        |       CAST(2 + 2 * (j + 1) AS BIGINT) AS blob_size,
        |       strftime(make_timestamp((1638993340 + event_id * 10 * 5) * 1000000),
        |                '%Y-%m-%d %H:%M:%S') AS slot_timestamp,
        |       CAST(4 AS BIGINT) AS insert_version
        |FROM x""".stripMargin,
    "p21_data_column_sidecars" ->
      """WITH n AS (
        |  SELECT event_id, event_id % 3 AS n FROM events WHERE event_id < 1500),
        |x AS (
        |  SELECT event_id, r.j FROM n CROSS JOIN range(0, 2) r(j) WHERE r.j < n.n)
        |SELECT CAST(event_id * 10 AS BIGINT) AS slot,
        |       CAST(event_id * 5 + j AS BIGINT) AS column_index,
        |       CAST(j + 1 AS BIGINT) AS column_cells,
        |       CAST((j + 1) * (j + 2) / 2 AS BIGINT) AS column_bytes,
        |       CAST(j AS BIGINT) AS kzg_commitments_count,
        |       CAST(event_id % 2 AS BIGINT) AS kzg_proofs_count,
        |       CAST(event_id + j AS BIGINT) AS signed_block_slot,
        |       CAST(event_id * 3 + j AS BIGINT) AS proposer_index,
        |       '0xbr' || event_id::VARCHAR AS body_root,
        |       sha256(CASE WHEN j = 0 THEN '["0xab"]'
        |                   ELSE '["0xab","0xabab"]' END) AS column_hash,
        |       sha256(CASE WHEN j = 0 THEN '[]' ELSE '["0xcd"]' END) AS commitments_hash,
        |       sha256(CASE WHEN event_id % 2 = 0 THEN '[]' ELSE '["0xef"]' END) AS proofs_hash,
        |       strftime(make_timestamp((1638993340 + event_id * 10 * 5) * 1000000),
        |                '%Y-%m-%d %H:%M:%S') AS slot_timestamp,
        |       CAST(5 AS BIGINT) AS insert_version
        |FROM x""".stripMargin,
    "p9_transactions" ->
      """WITH n AS (
        |  SELECT event_id, event_id % 3 AS n FROM events WHERE event_id < 3000),
        |x AS (
        |  SELECT event_id, r.j FROM n CROSS JOIN range(0, 2) r(j) WHERE r.j < n.n)
        |SELECT CAST(event_id * 10000 AS BIGINT) AS slot,
        |       CAST(event_id * 2 AS BIGINT) AS block_number,
        |       '0xbh' || event_id::VARCHAR AS block_hash,
        |       CAST(j AS BIGINT) AS transaction_index,
        |       '0xfr' || event_id::VARCHAR AS fee_recipient,
        |       CAST(event_id * 30 AS BIGINT) AS gas_limit,
        |       CAST(event_id * 21 AS BIGINT) AS gas_used,
        |       (event_id + 7)::VARCHAR AS base_fee_per_gas,
        |       '' AS from_address,
        |       '' AS to_address,
        |       '' AS "value",
        |       CAST(0 AS BIGINT) AS gas_price,
        |       CAST(0 AS BIGINT) AS nonce,
        |       '' AS input
        |FROM x""".stripMargin,
    "p11_bls_changes" ->
      """WITH n AS (
        |  SELECT event_id, event_id % 3 AS n FROM events WHERE event_id < 3000),
        |x AS (
        |  SELECT event_id, r.j FROM n CROSS JOIN range(0, 2) r(j) WHERE r.j < n.n)
        |SELECT CAST(event_id * 10000 AS BIGINT) AS slot,
        |       CAST(j AS BIGINT) AS change_index,
        |       '0xcs' || event_id::VARCHAR || '_' || j::VARCHAR AS signature,
        |       CAST(event_id * 10 + j AS BIGINT) AS validator_index,
        |       '0xfb' || event_id::VARCHAR AS from_bls_pubkey,
        |       '0xea' || event_id::VARCHAR || '_' || j::VARCHAR AS to_execution_address
        |FROM x""".stripMargin,
    "p12_blob_commitments" ->
      """WITH n AS (
        |  SELECT event_id, event_id % 3 AS n FROM events WHERE event_id < 3000),
        |x AS (
        |  SELECT event_id, r.j FROM n CROSS JOIN range(0, 2) r(j) WHERE r.j < n.n)
        |SELECT CAST(event_id * 10000 AS BIGINT) AS slot,
        |       CAST(j AS BIGINT) AS commitment_index,
        |       '0xk' || event_id::VARCHAR || '_' || j::VARCHAR AS commitment
        |FROM x""".stripMargin,
    "p15_pending_consolidations" ->
      """WITH n AS (
        |  SELECT event_id, event_id % 3 AS n FROM events WHERE event_id < 1500),
        |x AS (
        |  SELECT event_id, r.j FROM n CROSS JOIN range(0, 2) r(j) WHERE r.j < n.n)
        |SELECT CAST(event_id * 10 AS BIGINT) AS slot,
        |       CAST(event_id * 10 + j AS BIGINT) AS source_index,
        |       CAST(event_id * 20 + j AS BIGINT) AS target_index,
        |       strftime(make_timestamp((1638993340 + event_id * 10 * 5) * 1000000),
        |                '%Y-%m-%d %H:%M:%S') AS slot_timestamp,
        |       CAST(4 AS BIGINT) AS insert_version
        |FROM x""".stripMargin,
    "p17_pending_partial_withdrawals" ->
      """WITH n AS (
        |  SELECT event_id, event_id % 3 AS n FROM events WHERE event_id < 1500),
        |x AS (
        |  SELECT event_id, r.j FROM n CROSS JOIN range(0, 2) r(j) WHERE r.j < n.n)
        |SELECT CAST(event_id * 10 AS BIGINT) AS slot,
        |       CAST(event_id * 10 + j AS BIGINT) AS validator_index,
        |       CAST(event_id * 3 + j AS BIGINT) AS amount,
        |       CAST(event_id + j AS BIGINT) AS withdrawable_epoch,
        |       strftime(make_timestamp((1638993340 + event_id * 10 * 5) * 1000000),
        |                '%Y-%m-%d %H:%M:%S') AS slot_timestamp,
        |       CAST(5 AS BIGINT) AS insert_version
        |FROM x""".stripMargin,
    "p4_voluntary_exits" ->
      """WITH n AS (
        |  SELECT event_id, event_id % 3 AS n FROM events WHERE event_id < 3000),
        |x AS (
        |  SELECT event_id, r.j FROM n CROSS JOIN range(0, 2) r(j) WHERE r.j < n.n)
        |SELECT CAST(event_id * 10000 AS BIGINT) AS slot,
        |       CAST(j AS BIGINT) AS exit_index,
        |       '0xvs' || event_id::VARCHAR || '_' || j::VARCHAR AS signature,
        |       CAST(event_id + j AS BIGINT) AS epoch,
        |       CAST(event_id * 10 + j AS BIGINT) AS validator_index
        |FROM x""".stripMargin,
    "p16_pending_deposits" ->
      """WITH n AS (
        |  SELECT event_id, event_id % 3 AS n FROM events WHERE event_id < 1500),
        |x AS (
        |  SELECT event_id, r.j FROM n CROSS JOIN range(0, 2) r(j) WHERE r.j < n.n)
        |SELECT CAST(event_id * 10 AS BIGINT) AS slot,
        |       '0xp' || event_id::VARCHAR || '_' || j::VARCHAR AS pubkey,
        |       '0xw' || event_id::VARCHAR AS withdrawal_credentials,
        |       CAST(event_id * 7 + j AS BIGINT) AS amount,
        |       '0xsg' || event_id::VARCHAR AS signature,
        |       CAST(event_id + j AS BIGINT) AS deposit_slot,
        |       strftime(make_timestamp((1638993340 + event_id * 10 * 5) * 1000000),
        |                '%Y-%m-%d %H:%M:%S') AS slot_timestamp,
        |       CAST(3 AS BIGINT) AS insert_version
        |FROM x""".stripMargin,
    "p20_rewards" ->
      """SELECT CAST(event_id * 10 AS BIGINT) AS slot,
        |       CAST(event_id AS BIGINT) AS proposer_index,
        |       CAST(event_id * 2 AS BIGINT) AS total,
        |       CAST(event_id * 3 AS BIGINT) AS attestations,
        |       CAST(event_id + 1 AS BIGINT) AS sync_aggregate,
        |       CAST(event_id % 5 AS BIGINT) AS proposer_slashings,
        |       CAST(event_id % 7 AS BIGINT) AS attester_slashings,
        |       strftime(make_timestamp((1638993340 + event_id * 10 * 5) * 1000000),
        |                '%Y-%m-%d %H:%M:%S') AS slot_timestamp,
        |       CAST(2 AS BIGINT) AS insert_version
        |FROM events WHERE event_id < 1500""".stripMargin,
    "p8_execution_payloads" ->
      """SELECT CAST(event_id * 10000 AS BIGINT) AS slot,
        |       '0xph' || event_id::VARCHAR AS parent_hash,
        |       '0xfr' || event_id::VARCHAR AS fee_recipient,
        |       '0xsr' || event_id::VARCHAR AS state_root,
        |       '0xrr' || event_id::VARCHAR AS receipts_root,
        |       '0xlb' || event_id::VARCHAR AS logs_bloom,
        |       '0xra' || event_id::VARCHAR AS prev_randao,
        |       CAST(event_id * 2 AS BIGINT) AS block_number,
        |       CAST(event_id * 3 AS BIGINT) AS gas_limit,
        |       CAST(event_id * 4 AS BIGINT) AS gas_used,
        |       CAST(event_id + 1000000 AS BIGINT) AS timestamp,
        |       '7' AS base_fee_per_gas,
        |       '0xbh' || event_id::VARCHAR AS block_hash,
        |       '0xed' || event_id::VARCHAR AS extra_data,
        |       CAST(CASE WHEN event_id % 2 = 0 THEN 2 ELSE 0 END AS BIGINT) AS transactions_count,
        |       CAST(CASE WHEN event_id % 2 = 0 THEN event_id * 5 ELSE 0 END AS BIGINT) AS blob_gas_used,
        |       CAST(CASE WHEN event_id % 2 = 0 THEN event_id * 6 ELSE 0 END AS BIGINT) AS excess_blob_gas,
        |       CAST(CASE WHEN event_id % 2 = 0 THEN 1 ELSE 0 END AS BIGINT) AS withdrawals_count
        |FROM events WHERE event_id < 3000""".stripMargin,
    "p5_proposer_slashings" ->
      """SELECT CAST(event_id * 10000 AS BIGINT) AS slot,
        |       CAST(0 AS BIGINT) AS slashing_index,
        |       CAST(event_id + 1 AS BIGINT) AS header_1_slot,
        |       CAST(event_id AS BIGINT) AS header_1_proposer_index,
        |       '0xpr1_' || event_id::VARCHAR AS header_1_parent_root,
        |       '0xst1_' || event_id::VARCHAR AS header_1_state_root,
        |       '0xbr1_' || event_id::VARCHAR AS header_1_body_root,
        |       '0xhs1_' || event_id::VARCHAR AS header_1_signature,
        |       CAST(event_id + 2 AS BIGINT) AS header_2_slot,
        |       CAST(event_id AS BIGINT) AS header_2_proposer_index,
        |       '0xpr2_' || event_id::VARCHAR AS header_2_parent_root,
        |       '0xst2_' || event_id::VARCHAR AS header_2_state_root,
        |       '0xbr2_' || event_id::VARCHAR AS header_2_body_root,
        |       '0xhs2_' || event_id::VARCHAR AS header_2_signature
        |FROM events WHERE event_id < 3000 AND event_id % 4 <> 0""".stripMargin,
    "p14_execution_requests" ->
      """SELECT CAST(event_id * 10000 AS BIGINT) AS slot,
        |       '{"deposits":' ||
        |         CASE WHEN event_id % 4 = 1 THEN '[{"x":1}]' ELSE '[]' END ||
        |       ',"withdrawals":' ||
        |         CASE WHEN event_id % 4 = 2 THEN '[{"x":1},{"x":2}]' ELSE '[]' END ||
        |       ',"consolidations":' ||
        |         CASE WHEN event_id % 4 = 3 THEN '[{"x":1}]' ELSE '[]' END ||
        |       '}' AS payload,
        |       CAST(CASE WHEN event_id % 4 = 1 THEN 1 ELSE 0 END AS BIGINT) AS deposits_count,
        |       CAST(CASE WHEN event_id % 4 = 2 THEN 2 ELSE 0 END AS BIGINT) AS withdrawals_count,
        |       CAST(CASE WHEN event_id % 4 = 3 THEN 1 ELSE 0 END AS BIGINT) AS consolidations_count
        |FROM events WHERE event_id < 3000 AND event_id % 4 <> 0""".stripMargin,
    "p7_sync_aggregates" ->
      """SELECT CAST(event_id * 10000 AS BIGINT) AS slot,
        |       '0x' || hex(event_id) AS sync_committee_bits,
        |       '0xsig' || event_id::VARCHAR AS sync_committee_signature,
        |       CAST(bit_count(event_id) AS BIGINT) AS participation_count,
        |       CAST(bit_count(event_id) AS BIGINT) AS participating_validators
        |FROM events WHERE event_id < 3000 AND event_id % 5 <> 0""".stripMargin,
    "p10_withdrawals" ->
      """WITH n AS (
        |  SELECT event_id, event_id % 3 AS n FROM events WHERE event_id < 3000),
        |x AS (
        |  SELECT event_id, r.j FROM n CROSS JOIN range(0, 2) r(j) WHERE r.j < n.n)
        |SELECT CAST(event_id * 10000 AS BIGINT) AS slot,
        |       CAST(event_id * 2 AS BIGINT) AS block_number,
        |       '0xbh' || event_id::VARCHAR AS block_hash,
        |       CAST(event_id * 10 + j AS BIGINT) AS withdrawal_index,
        |       CAST(event_id + j AS BIGINT) AS validator_index,
        |       '0xad' || event_id::VARCHAR || '_' || j::VARCHAR AS address,
        |       CAST(event_id * 100 + j AS BIGINT) AS amount
        |FROM x""".stripMargin,
    "p1_blocks" ->
      """SELECT event_id * 10000 AS slot,
        |       event_id AS proposer_index,
        |       '0x' || hex(event_id) AS parent_root,
        |       '0xs' || event_id AS state_root,
        |       '0xsig' || event_id AS signature,
        |       CASE WHEN event_id * 10000 >= 27435008 THEN '0x06000064'
        |            WHEN event_id * 10000 >= 21405696 THEN '0x05000064'
        |            WHEN event_id * 10000 >= 14237696 THEN '0x04000064'
        |            WHEN event_id * 10000 >= 10379264 THEN '0x03000064'
        |            WHEN event_id * 10000 >= 6168576 THEN '0x02000064'
        |            WHEN event_id * 10000 >= 8192 THEN '0x01000064'
        |            ELSE '0x00000064' END AS version,
        |       '0xr' || event_id AS randao_reveal,
        |       'g' || event_id AS graffiti,
        |       '0xd' || event_id AS eth1_deposit_root,
        |       event_id * 3 AS eth1_deposit_count,
        |       '0xb' || event_id AS eth1_block_hash,
        |       CAST(bit_count(event_id) AS BIGINT) AS sync_aggregate_participation,
        |       event_id % 4 AS withdrawals_count,
        |       event_id % 3 AS blob_kzg_commitments_count,
        |       event_id % 2 + event_id % 4 + event_id % 3 AS execution_requests_count
        |FROM events WHERE event_id < 3000""".stripMargin,
    "p19_validators" ->
      """WITH x AS (
        |  SELECT event_id, unnest(range(1, event_id % 5 + 2)) AS j
        |  FROM events WHERE event_id < 1500)
        |SELECT event_id * 10 AS slot,
        |       CAST(event_id * 10 + j AS INT) AS validator_index,
        |       event_id * 100 + j AS balance,
        |       CASE WHEN j % 3 = 0 THEN 'active_ongoing'
        |            WHEN j % 3 = 1 THEN 'pending_queued'
        |            ELSE 'exited_slashed' END AS status,
        |       '0xp' || event_id || '_' || j AS pubkey,
        |       '0xw' || j AS withdrawal_credentials,
        |       j * 16 AS effective_balance,
        |       CAST(CASE WHEN j % 2 = 0 THEN 1 ELSE 0 END AS INT) AS slashed,
        |       j AS activation_eligibility_epoch,
        |       j + 1 AS activation_epoch,
        |       CASE WHEN j % 2 = 0 THEN 9223372036854775807 ELSE j + 2 END AS exit_epoch,
        |       j + 3 AS withdrawable_epoch,
        |       strftime(make_timestamp((1638993340 + event_id * 10 * 5) * 1000000),
        |                '%Y-%m-%d %H:%M:%S') AS slot_timestamp,
        |       CAST(7 AS BIGINT) AS insert_version
        |FROM x""".stripMargin,
    "p2_explode_enumerate" ->
      """SELECT doc_id, generate_subscripts(l, 1) AS pos, unnest(l) AS word
        |FROM (SELECT doc_id, string_split(text, ' ') AS l
        |      FROM documents WHERE doc_id < 20) t""".stripMargin,
    "p24_unpivot" ->
      """SELECT l_orderkey, l_linenumber, 'quantity' AS param, l_quantity AS val
        |FROM lineitem WHERE l_orderkey < 100
        |UNION ALL
        |SELECT l_orderkey, l_linenumber, 'tax' AS param, l_tax AS val
        |FROM lineitem WHERE l_orderkey < 100""".stripMargin,
  )
}
