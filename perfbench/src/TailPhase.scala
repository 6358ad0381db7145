package perfbench

import graft.beacon._
import graft.streaming.{ChunkedTail, HeadProbe}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import scala.collection.mutable

/** Head probe the benchmark advances by hand, one chunk per step. */
final class ManualHead(@volatile var head: Long) extends HeadProbe {
  def headSlot(): Long = head
}

/** The realtime tail over a backfilled store: each step advances the head
  * by one chunk, calls `ChunkedTail.processAvailable` with chained
  * transform, and reads the new chunk back through `latestTable`. A step's
  * latency runs from the chunk becoming due to its rows being visible in
  * `latest()`. Steps are checked and counted but are not samples of the
  * workload's own latency. */
final class TailPhase(gen: ChainGen, store: Store) {
  import Pipeline._
  import TailPhase._

  private val probe = new ManualHead(0L)
  private var tail: ChunkedTail = _
  private var last = 0L
  private val processed = mutable.ArrayBuffer.empty[(Long, Long)]
  private val latencies = mutable.ArrayBuffer.empty[Double]
  private var ledgerFiles = 0.0

  /** Resumes the tail from the raw table and the ledger, as a restarted
    * process would, and checks that the ledger holds `chunks` chunks. */
  def open(spark: SparkSession, chunks: Int): Unit = {
    tail = new ChunkedTail(spark, cfg, gen, probe, store.raw, store.chunks,
      chainedTransform = Some((store.tables, store.progress)),
      chunkSize = ChunkSize, slotDelay = SlotDelay)
    // the cursor sits on the last chunk boundary at or below the resume
    // point, which may be an empty slot short of it
    last = graft.streaming.TailChunkSource.boundaryAfter(tail.resumeSlot(), ChunkSize) - 1
    probe.head = last + SlotDelay
    require(tail.completedChunks().size == chunks, s"the ledger does not hold $chunks completed chunks")
  }

  /** Makes the next chunk due and processes it; returns its range. */
  private def advance(ctx: Ctx): (Long, Long) = {
    val s = last + 1
    val e = last + ChunkSize
    probe.head += ChunkSize
    val newLast = ctx.span("processAvailable", "ChunkedTail")(tail.processAvailable(last))
    if (newLast != e) throw new IllegalStateException(s"processAvailable returned $newLast, expected $e")
    last = newLast
    processed += ((s, e))
    (s, e)
  }

  private def visible(ctx: Ctx, s: Long, e: Long): Long =
    ctx.span("latestTable", "Transformer") {
      latest(ctx.spark, store, "blocks").filter(col("slot").between(s, e)).count()
    }

  /** Runs `Chunks` tail steps, then checks both ledgers for them. */
  def runAll(ctx: Ctx): Unit = {
    (0 until Chunks).foreach { i =>
      ctx.group(s"chunk$i")
      var range = (0L, 0L)
      ctx.book.run(s"tail chunk $i", sample = false) {
        range = advance(ctx)
        visible(ctx, range._1, range._2)
      } { n => mismatch(s"latest() rows of chunk ${range._1}-${range._2}", n,
        gen.expected(range._1, range._2).blocks) }.foreach(latencies += _)
    }
    ledgerFiles = Files.parquet(store.chunks.path).length.toDouble
    ctx.book.verify("tail ledgers", ledgerParity(ctx.spark, store, gen, processed.toSeq))
  }

  def layerMetrics(ctx: Ctx, tracer: Tracer): Seq[(String, Double, String)] = {
    val jobs = tracer.jobs
    val spans = tracer.spans.filter(_.group.startsWith("chunk"))
    val perChunk = spans.map(_.group).distinct.map { g =>
      val cs = spans.filter(_.group == g)
      val ids = cs.map(_.id).toSet
      val js = jobs.filter(j => ids(j.spanId))
      def of(m: String) = js.filter(_.module == m)
      def iv(x: Seq[JobRec]) = x.map(j => (j.start, j.end))
      val tr = of("Transformer").filter(j => cs.exists(s => s.id == j.spanId && s.name == "processAvailable"))
      val trWall = Trace.envelope(iv(tr))
      val wall = cs.filter(_.parent == 0).map(_.wall).sum / 1e3
      Map(
        "ChunkedTail.wall_s" -> cs.filter(_.name == "processAvailable").map(_.wall).sum / 1e3,
        "RawIngest.wall_s" -> Trace.envelope(iv(of("RawIngest"))) / 1e3,
        "RawIngest.jobs" -> of("RawIngest").size.toDouble,
        "Transformer.wall_s" -> trWall / 1e3,
        "Transformer.jobs" -> tr.size.toDouble,
        "Transformer.task_cpu_s" -> tr.map(_.cpuNs).sum / 1e9,
        "Transformer.driver_gap_s" -> (trWall - Trace.unionLength(iv(tr))) / 1e3,
        "Ledger.read_s" -> Trace.unionLength(iv(of("ChunkedTail"))) / 1e3,
        "latest_read_s" -> cs.filter(_.name == "latestTable").map(_.wall).sum / 1e3,
        "cpu_utilization" -> js.map(_.cpuNs).sum / 1e9 / (wall * ctx.cores))
    }
    if (perChunk.isEmpty) return Nil
    def med(k: String) = Stats.median(perChunk.map(_(k)))
    Seq(
      ("tail.chunk_p50_s", Stats.median(latencies.toSeq), "s"),
      ("tail.ChunkedTail.wall_s", med("ChunkedTail.wall_s"), "s"),
      ("tail.RawIngest.wall_s", med("RawIngest.wall_s"), "s"),
      ("tail.RawIngest.jobs", med("RawIngest.jobs"), "count"),
      ("tail.Transformer.wall_s", med("Transformer.wall_s"), "s"),
      ("tail.Transformer.jobs", med("Transformer.jobs"), "count"),
      ("tail.Transformer.task_cpu_s", med("Transformer.task_cpu_s"), "s"),
      ("tail.Transformer.driver_gap_s", med("Transformer.driver_gap_s"), "s"),
      ("tail.Ledger.read_s", med("Ledger.read_s"), "s"),
      ("tail.Ledger.files", ledgerFiles, "count"),
      ("tail.latest_read_s", med("latest_read_s"), "s"),
      ("tail.cpu_utilization", med("cpu_utilization"), "ratio"))
  }
}

object TailPhase {
  /** Tail steps per traced run. */
  val Chunks = 3
  val SlotDelay = 100L
}
