package graft

import graft.beacon._
import graft.functions.CanonicalJson
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** A deterministic fetcher over every slot: every `emptyEvery`-th slot is
  * 404-empty, the rest carry a three-entry `data` array. */
final case class SynthFetcher(emptyEvery: Int) extends SlotFetcher {
  def fetch(slot: Long): Option[String] =
    if (slot % emptyEvery == 0) None
    else Some(s"""{"slot": "$slot", "data": [{"i": 1}, {"i": 2}, {"s": "$slot"}]}""")
}

/** Writes the fetching task's partition into the payload. */
final case class TaskRecordingFetcher() extends SlotFetcher {
  def fetch(slot: Long): Option[String] =
    Some(s"""{"slot": "$slot", "task": ${org.apache.spark.TaskContext.getPartitionId()}}""")
}

/** The one-stage raw ingest: slices, F4 by construction, file order. */
class RawIngestSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark

  private val cfg = ChainConfig.gnosis
  private val slotsPerDay = 86400L / cfg.secondsPerSlot

  private def tmp(): String = Files.createTempDirectory("graft_raw").toString

  /** What the shuffle-and-dedup plan wrote: every distinct slot of the
    * ranges the gate passes, fetched, hashed intact and split, one row
    * per (slot, part). */
  private def expected(
      ranges: Seq[(Long, Long)], gate: Long => Boolean, fetcher: SlotFetcher,
      split: Option[Int] = None): Set[(Long, Int, String)] =
    ranges.flatMap { case (s, e) => s to e }.distinct.filter(gate).flatMap { slot =>
      fetcher.fetch(slot).toSeq.flatMap { p =>
        val h = CanonicalJson.payloadHash16(p)
        val parts = split.map(PayloadSplitter.split(p, _)).getOrElse(Seq(p))
        parts.indices.map(i => (slot, i, h))
      }
    }.toSet

  /** Every raw row as (slot, part_index, payload_hash), asserting that no
    * (slot, part_index) occurs twice. */
  private def written(rawDir: String): Set[(Long, Int, String)] = {
    val raw = spark.read.parquet(rawDir)
    val part = if (raw.columns.contains("part_index")) col("part_index") else org.apache.spark.sql.functions.lit(0)
    val rows = raw.select(col("slot"), part, col("payload_hash")).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSeq
    assert(rows.map(r => (r._1, r._2)).distinct.size === rows.size, "a (slot, part_index) twice")
    rows.toSet
  }

  /** Each parquet data file's (slot, part_index) sequence is sorted. */
  private def assertFilesInSlotOrder(rawDir: String): Unit = {
    val files = Files.walk(java.nio.file.Paths.get(rawDir)).iterator()
    var n = 0
    files.forEachRemaining { f =>
      val name = f.getFileName.toString
      if (name.endsWith(".parquet") && !name.startsWith(".")) {
        val df = spark.read.parquet(f.toString)
        val keys = df.select(col("slot"),
          if (df.columns.contains("part_index")) col("part_index") else org.apache.spark.sql.functions.lit(0))
          .collect().map(r => (r.getLong(0), r.getInt(1))).toSeq
        assert(keys === keys.sorted, f.toString)
        n += 1
      }
    }
    assert(n > 0)
  }

  test("slices: exactly n contiguous slices covering the merged ranges, balanced on the gate") {
    val rnd = new scala.util.Random(9001)
    (1 to 200).foreach { _ =>
      val ranges = Seq.fill(rnd.nextInt(5)) {
        val s = rnd.nextInt(300).toLong
        (s, s + rnd.nextInt(60) - 5) // some inverted (empty)
      }
      val n = 1 + rnd.nextInt(6)
      val m = 1 + rnd.nextInt(7)
      val gate = if (rnd.nextBoolean()) None else Some((s: Long) => s % m == 0)
      val slices = RawIngest.slices(ranges, gate, n)
      assert(slices.size === n)
      val union = ranges.flatMap { case (s, e) => s to e }.distinct.sorted
      val covered = slices.flatMap(_.flatMap { case (s, e) => s to e })
      assert(covered === union, (ranges, n)) // in slot order, each slot once
      val passing = slices.map(_.flatMap { case (s, e) => s to e }.count(gate.getOrElse(_ => true)))
      val total = passing.sum
      assert(passing === (0 until n).map(i => (i + 1) * total / n - i * total / n), (ranges, n, m))
    }
  }

  test("one raw row per (slot, part_index), same payload_hash as the dedup plan") {
    val fetcher = SynthFetcher(7)
    val all: Long => Boolean = _ => true
    // overlapping, nested, duplicate and inverted ranges in one fused call
    val base = tmp()
    val ranges = Seq((0L, 49L), (30L, 79L), (70L, 70L), (60L, 65L), (100L, 90L), (120L, 139L), (0L, 49L))
    assert(RawIngest.ingestChunksFused(spark, cfg, fetcher, s"$base/fused", LedgerStore(s"$base/l1"),
      "blocks", ranges, parallelism = 3))
    assert(written(s"$base/fused") === expected(ranges, all, fetcher))
    assertFilesInSlotOrder(s"$base/fused")
    // duplicate slots passed to fetchSlots
    val slots = Seq(5L, 5L, 3L, 14L, 3L, 9L, 10L, 11L, 9L)
    RawIngest.writeRaw(RawIngest.fetchSlots(spark, slots, fetcher, 2), cfg, s"$base/dups")
    assert(written(s"$base/dups") === expected(slots.map(s => (s, s)), all, fetcher))
    // the fork-floor gate across the electra activation, fused and per chunk
    val floor = cfg.activationSlot("electra").get
    val forkGate = RawIngest.slotGate(cfg, Some("electra"), dailyOnly = false)
    val straddling = Seq((floor - 40, floor - 1), (floor - 5, floor + 30))
    assert(RawIngest.ingestChunksFused(spark, cfg, fetcher, s"$base/fork", LedgerStore(s"$base/l2"),
      "pending_deposits", straddling, parallelism = 4, gate = Some(forkGate)))
    assert(written(s"$base/fork") === expected(straddling, forkGate, fetcher))
    assert(written(s"$base/fork").forall(_._1 >= floor))
    assert(RawIngest.ingestChunk(spark, cfg, fetcher, s"$base/fork1", LedgerStore(s"$base/l3"),
      "pending_deposits", floor - 20, floor + 20, gate = Some(forkGate)))
    assert(written(s"$base/fork1") === expected(Seq((floor - 20, floor + 20)), forkGate, fetcher))
    // the daily gate over three days
    val dailyGate = RawIngest.slotGate(cfg, None, dailyOnly = true)
    val days = Seq((0L, 3 * slotsPerDay))
    assert(RawIngest.ingestChunksFused(spark, cfg, fetcher, s"$base/daily", LedgerStore(s"$base/l4"),
      "validators", days, parallelism = 4, split = true, gate = Some(dailyGate)))
    assert(written(s"$base/daily") === expected(days, dailyGate, fetcher))
    // the pooled path
    val pooled = Seq((200L, 219L), (220L, 239L), (240L, 241L))
    assert(RawIngest.ingestChunksPooled(spark, cfg, fetcher, s"$base/pooled", LedgerStore(s"$base/l5"),
      "blocks", pooled, workers = 2, parallelism = 2).forall(identity))
    assert(written(s"$base/pooled") === expected(pooled, all, fetcher))
    assertFilesInSlotOrder(s"$base/pooled")
  }

  test("split payloads: every part once, hashed intact, files in (slot, part) order") {
    val fetcher = SynthFetcher(4)
    val base = tmp()
    val ranges = Seq((0L, 29L), (25L, 40L))
    RawIngest.writeRaw(RawIngest.fetchRanges(spark, ranges, fetcher, parallelism = 3,
      split = true, splitThresholdBytes = 1, entriesPerPart = 1), cfg, s"$base/raw")
    val got = written(s"$base/raw")
    assert(got === expected(ranges, _ => true, fetcher, split = Some(1)))
    assert(got.count(_._2 == 2) === got.count(_._2 == 0)) // three parts a slot
    assertFilesInSlotOrder(s"$base/raw")
  }

  test("daily gate: a batch's fetches spread over the tasks") {
    val base = tmp()
    val dailyGate = RawIngest.slotGate(cfg, None, dailyOnly = true)
    val ranges = (0 until 8).map(d => (d * slotsPerDay, (d + 1) * slotsPerDay - 1))
    assert(RawIngest.ingestChunksFused(spark, cfg, TaskRecordingFetcher(), s"$base/raw",
      LedgerStore(s"$base/l"), "validators", ranges, parallelism = 4, gate = Some(dailyGate)))
    val tasks = spark.read.parquet(s"$base/raw")
      .select(org.apache.spark.sql.functions.get_json_object(col("payload"), "$.task")).collect()
      .map(_.getString(0))
    assert(tasks.length === 8)
    assert(tasks.groupBy(identity).values.map(_.length).toSeq.sorted === Seq(2, 2, 2, 2))
  }
}
