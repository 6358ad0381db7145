package perfbench

import graft.beacon._
import org.apache.spark.sql.SparkSession

import scala.collection.mutable

/** `backfill`: a fresh seeded chain of `Slots` slots per operation goes
  * through one fused ingest call, then one fused transform call, then one
  * `latest()` count. One operation = one whole backfill into an empty
  * store. After the timed loop of a traced run come the
  * analytics read path ([[AnalyticsQueries]]) and the realtime tail
  * ([[TailPhase]]). */
final class Backfill(seed: Long) extends Workload {
  import Backfill._
  import Pipeline._

  private val gen = ChainGen(seed)
  private var base = ""
  private var fixture: Store = _
  private var tail: TailPhase = _
  private val ingestS = mutable.ArrayBuffer.empty[Double]
  private val transformS = mutable.ArrayBuffer.empty[Double]
  private val storedRatio = mutable.ArrayBuffer.empty[Double]
  private val disk = mutable.ArrayBuffer.empty[(Double, Double, Double)]
  private val fetchS = mutable.ArrayBuffer.empty[Double]

  private var lastStore: Option[(Store, Seq[(Long, Long)])] = None
  private var analytics: Option[AnalyticsQueries] = None

  /** The fixture is a store that already holds `PriorChunks` chunks, built
    * through the same fused calls an operation makes, so building it also
    * warms them up. */
  override def prepare(spark: SparkSession, dir: String): Unit = {
    base = dir
    fixture = Store(s"$dir/fixture")
    val prior = chunks(ChainGen.BaseSlot - PriorChunks * ChunkSize, PriorChunks)
    require(RawIngest.ingestChunksFused(spark, cfg, gen, fixture.raw, fixture.chunks,
      "blocks", prior, parallelism = spark.sparkContext.defaultParallelism), "fixture ingest failed")
    require(Transformer.transformChunksFused(spark, cfg, Loaders.blocks, fixture.raw,
      fixture.tables, fixture.progress, prior), "fixture transform failed")
    val exp = gen.expected(prior.head._1, prior.last._2)
    require(latest(spark, fixture, "blocks").count() == exp.blocks, "fixture blocks not visible")
  }

  /** The set-up: a restarted tail resuming over the fixture. */
  override def open(spark: SparkSession): Unit = {
    tail = new TailPhase(gen, fixture)
    tail.open(spark, PriorChunks)
  }

  def step(ctx: Ctx, i: Int): Unit = cycle(ctx, i)

  /** The analytics read path over the last backfilled store, then the
    * realtime tail over the fixture. They feed only per-layer metrics, so
    * they run in traced runs alone. */
  override def finish(ctx: Ctx): Unit = if (ctx.tracer.isDefined) lastStore.foreach { case (store, ranges) =>
    val q = new AnalyticsQueries(gen, store, ranges)
    analytics = Some(q)
    ctx.group("refetch")
    ctx.book.run("re-fetch and re-transform", sample = false)(q.refetch(ctx.spark)) {
      ok => if (ok) None else Some("re-fetch ingest or re-transform returned false")
    }
    q.runAll(ctx)
    tail.runAll(ctx)
  }

  private def cycle(ctx: Ctx, i: Int): Unit = {
    val spark = ctx.spark
    lastStore.foreach(l => Files.delete(l._1.dir))
    val store = Store(s"$base/cycle$i")
    val ranges = chunks(ChainGen.BaseSlot + i.toLong * Slots, Slots / ChunkSize.toInt)
    val lo = ranges.head._1
    val hi = ranges.last._2
    val fetchNanos = ctx.tracer.map(_ => spark.sparkContext.longAccumulator("perfbench.fetch_ns"))
    val fetcher = fetchNanos.map(TimedFetcher(gen, _)).getOrElse(gen)
    ctx.group(s"cycle$i")
    var tIngest = 0.0
    var tTransform = 0.0
    val op = () => {
      val t0 = System.nanoTime()
      val ingested = ctx.span("ingestChunksFused", "RawIngest") {
        RawIngest.ingestChunksFused(spark, cfg, fetcher, store.raw, store.chunks,
          "blocks", ranges, parallelism = ctx.cores)
      }
      val t1 = System.nanoTime()
      val transformed = ingested && ctx.span("transformChunksFused", "Transformer") {
        Transformer.transformChunksFused(spark, cfg, Loaders.blocks, store.raw,
          store.tables, store.progress, ranges)
      }
      val t2 = System.nanoTime()
      val visible = if (transformed) ctx.span("latestTable", "Transformer") {
        latest(spark, store, "blocks").count()
      } else -1L
      tIngest = (t1 - t0) / 1e9
      tTransform = (t2 - t1) / 1e9
      (ingested, transformed, visible)
    }
    val check: ((Boolean, Boolean, Long)) => Option[String] = {
      case (false, _, _) => Some("ingestChunksFused returned false")
      case (_, false, _) => Some("transformChunksFused returned false")
      case (_, _, visible) =>
        val exp = gen.expected(lo, hi)
        firstError(
          mismatch("latest() blocks", visible, exp.blocks),
          tableParity(spark, store, lo, hi, exp),
          ledgerParity(spark, store, gen, ranges))
    }
    if (ctx.book.run(s"backfill cycle $i")(op())(check).isDefined) {
      ingestS += tIngest
      transformS += tTransform
      if (ctx.tracer.isDefined) {
        val payloadBytes = (lo to hi).iterator.filterNot(gen.isEmpty)
          .map(s => gen.payload(s, refetched = false).length.toLong).sum
        val rawB = Files.bytes(store.raw).toDouble
        val tabB = Files.bytes(store.tables).toDouble
        storedRatio += (rawB + tabB) / payloadBytes
        disk += ((rawB / Slots, tabB / Slots, Files.parquet(store.dir).length.toDouble))
        fetchS += fetchNanos.map(_.value.toDouble / 1e9).getOrElse(0.0)
      }
    }
    lastStore = Some((store, ranges))
  }

  def layerMetrics(ctx: Ctx, tracer: Tracer): Seq[(String, Double, String)] = {
    val spans = tracer.spans.filter(_.group.startsWith("cycle"))
    val jobs = tracer.jobs
    val cycles = spans.map(_.group).distinct
    def jobsOf(ss: Seq[Span]) = { val ids = ss.map(_.id).toSet; jobs.filter(j => ids(j.spanId)) }
    def iv(js: Seq[JobRec]) = js.map(j => (j.start, j.end))
    def self(ss: Seq[Span]) = ss.map(s => Trace.selfTime(s, spans.filter(_.parent == s.id))).sum / 1e3
    // per-cycle values, reported as the median over cycles
    val perCycle = cycles.map { g =>
      val cs = spans.filter(_.group == g)
      val ing = cs.filter(_.name == "ingestChunksFused")
      val tr = cs.filter(_.name == "transformChunksFused")
      val ingJobs = jobsOf(ing).filter(_.module == "RawIngest")
      val trAll = jobsOf(tr)
      val trJobs = trAll.filter(_.module == "Transformer")
      val ledgerJobs = jobsOf(cs).filter(_.module == "Ledger")
      val all = jobsOf(cs)
      val wall = cs.filter(_.parent == 0).map(_.wall).sum / 1e3
      Map(
        "RawIngest.wall_s" -> self(ing),
        "RawIngest.jobs" -> ingJobs.size.toDouble,
        "RawIngest.task_cpu_s" -> ingJobs.map(_.cpuNs).sum / 1e9,
        "RawIngest.shuffle_write_bytes" -> ingJobs.map(_.shuffleWriteBytes).sum.toDouble,
        "Transformer.wall_s" -> self(tr),
        "Transformer.jobs" -> trJobs.size.toDouble,
        "Transformer.task_cpu_s" -> trJobs.map(_.cpuNs).sum / 1e9,
        "Transformer.driver_gap_s" -> tr.map(s => Trace.driverGap(s, iv(trAll.filter(_.spanId == s.id)))).sum / 1e3,
        "Transformer.write_s" -> Trace.unionLength(iv(
          trJobs.filter(j => Option(j.callLong).exists(_.contains("writeTable"))))) / 1e3,
        "Transformer.count_s" -> Trace.unionLength(iv(
          trJobs.filter(j => Option(j.callShort).exists(_.startsWith("collect at"))))) / 1e3,
        "Transformer.spill_bytes" -> trJobs.map(_.spillBytes).sum.toDouble,
        "Transformer.gc_s" -> trJobs.map(_.gcMs).sum / 1e3,
        "Ledger.wall_s" -> Trace.unionLength(iv(ledgerJobs)) / 1e3,
        "Ledger.jobs" -> ledgerJobs.size.toDouble,
        "cpu_utilization" -> all.map(_.cpuNs).sum / 1e9 / (wall * ctx.cores))
    }
    def med(k: String) = Stats.median(perCycle.map(_(k)))
    val payloads = (0 until 2000).map(i => gen.payload(ChainGen.BaseSlot + i, refetched = false))
    payloads.take(500).foreach(graft.functions.CanonicalJson.payloadHash16)
    val h0 = System.nanoTime()
    payloads.foreach(graft.functions.CanonicalJson.payloadHash16)
    val usPerPayload = (System.nanoTime() - h0) / 1e3 / payloads.length
    Seq(
      ("backfill.RawIngest.wall_s", med("RawIngest.wall_s"), "s"),
      ("backfill.RawIngest.jobs", med("RawIngest.jobs"), "count"),
      ("backfill.RawIngest.task_cpu_s", med("RawIngest.task_cpu_s"), "s"),
      ("backfill.RawIngest.shuffle_write_bytes", med("RawIngest.shuffle_write_bytes"), "bytes"),
      ("backfill.fetch.s", Stats.median(fetchS.toSeq), "s"),
      ("backfill.CanonicalJson.us_per_payload", usPerPayload, "us"),
      ("backfill.Transformer.wall_s", med("Transformer.wall_s"), "s"),
      ("backfill.Transformer.jobs", med("Transformer.jobs"), "count"),
      ("backfill.Transformer.task_cpu_s", med("Transformer.task_cpu_s"), "s"),
      ("backfill.Transformer.driver_gap_s", med("Transformer.driver_gap_s"), "s"),
      ("backfill.Transformer.write_s", med("Transformer.write_s"), "s"),
      ("backfill.Transformer.count_s", med("Transformer.count_s"), "s"),
      ("backfill.Transformer.spill_bytes", med("Transformer.spill_bytes"), "bytes"),
      ("backfill.Transformer.gc_s", med("Transformer.gc_s"), "s"),
      ("backfill.Ledger.wall_s", med("Ledger.wall_s"), "s"),
      ("backfill.Ledger.jobs", med("Ledger.jobs"), "count"),
      ("backfill.cpu_utilization", med("cpu_utilization"), "ratio"),
      ("backfill.raw_bytes_per_slot", Stats.median(disk.map(_._1).toSeq), "bytes"),
      ("backfill.table_bytes_per_slot", Stats.median(disk.map(_._2).toSeq), "bytes"),
      ("backfill.files_written", Stats.median(disk.map(_._3).toSeq), "count"),
      ("backfill.ingest_slots_per_s", Slots / Stats.median(ingestS.toSeq), "slots/s"),
      ("backfill.transform_slots_per_s", Slots / Stats.median(transformS.toSeq), "slots/s"),
      ("backfill.stored_bytes_per_payload_byte", Stats.median(storedRatio.toSeq), "ratio")) ++
      analytics.toSeq.flatMap(_.layerMetrics(tracer)) ++ tail.layerMetrics(ctx, tracer)
  }
}

object Backfill {
  /** Slots per backfill operation. */
  val Slots = 20000
  /** Chunks in the fixture store: one operation's worth, so that building
    * it warms the fused calls up at the operation's size. */
  val PriorChunks: Int = (Slots / Pipeline.ChunkSize).toInt
}

/** A fetcher that adds the time spent inside the wrapped `fetch` to an
  * accumulator: task-side time, summed over all tasks. */
final case class TimedFetcher(
    inner: SlotFetcher, nanos: org.apache.spark.util.LongAccumulator) extends SlotFetcher {
  def fetch(slot: Long): Option[String] = {
    val t0 = System.nanoTime()
    try inner.fetch(slot) finally nanos.add(System.nanoTime() - t0)
  }
}
