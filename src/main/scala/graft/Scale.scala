package graft

import graft.beacon._
import graft.core.{Fs, Observability, Sessions}
import graft.core.Metrics.timed
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Paths}

/** Scale-proof runs: every stage drives a PRODUCTION path over a
  * deterministic synthetic corpus orders of magnitude above the oracle
  * fixtures, checks closed-form invariants with `require`, and records its
  * section of `SCALE.md`. The flagship stage is a ~1M-slot beacon backfill
  * through fused ingest (`ingestChunksFused`) → fused transform
  * (`transformChunksFused`) → `latest()` window reads; the shapes under
  * test are the ones that must hold at 100 TB (driver holds only chunk
  * RANGES, slots explode executor-side; per-wave fused jobs; bulk ledger
  * transitions; no per-row driver work).
  *
  * Usage:
  *   - `runMain graft.Scale <stage> [params...] [outMdPath]` — one
  *     registered stage (see [[stages]]) with its positional parameters;
  *     omitted parameters take their full-size defaults
  *   - `runMain graft.Scale [totalSlots] [outMdPath]` — the backfill stage
  *     (a numeric or absent first argument selects it)
  *
  * The harness builds the session ([[graft.core.Sessions.local]] on
  * `SPARK_GRAFT_CPUS` cores, default 32), gives the stage a temp base dir
  * that it deletes afterwards, times the stage, reads peak and live
  * heap, splices the stage's section into the markdown file and prints
  * one JSON line.
  */
object Scale {

  /** A stage's positional parameters in order; each value's type (Long,
    * Int or String) is the type of its default. */
  final case class Params(values: Seq[(String, Any)]) {
    private def get(name: String): Any = values.collectFirst {
      case (n, v) if n == name => v
    }.getOrElse(throw new NoSuchElementException(s"no parameter '$name'"))
    def long(name: String): Long = get(name).asInstanceOf[Long]
    def int(name: String): Int = get(name).asInstanceOf[Int]
    def str(name: String): String = get(name).asInstanceOf[String]
    def cli: String = values.map(_._2).mkString(" ")
  }

  /** What a stage reports: the run-dependent part of its SCALE.md
    * heading, the paragraph under the reproduce command, one ordered list
    * of (label, value) metrics (the markdown table rows and the JSON
    * fields) and the notes below the table. */
  final case class StageResult(
      subtitle: String, intro: String, metrics: Seq[(String, Any)], notes: String = "")

  /** One scale stage: `header` is the stable prefix of its SCALE.md
    * heading (the splice key), `params` its positional parameters with
    * their full-size defaults, `tiny` the parameters the smoke test runs
    * it with. `run(spark, params, base)` gets a fresh `base` dir that the
    * harness deletes afterwards. */
  final case class Stage(name: String, header: String, params: Seq[(String, Any)], tiny: String)(
      val run: (SparkSession, Params, String) => StageResult) {

    /** Positional arguments after the stage name → (params, outMd). */
    def parse(args: Seq[String]): (Params, String) = {
      val usage = (params.map(_._1) :+ "outMd").mkString(s"$name [", "] [", "]")
      require(args.size <= params.size + 1, s"too many arguments; usage: $usage")
      val values = params.zipWithIndex.map { case ((p, default), i) =>
        p -> args.lift(i).fold(default) { a =>
          try default match {
            case _: Long => a.toLong
            case _: Int => a.toInt
            case _ => a
          } catch {
            case _: NumberFormatException =>
              throw new IllegalArgumentException(s"$p: '$a' is not a number; usage: $usage")
          }
        }
      }
      (Params(values), args.lift(params.size).getOrElse("SCALE.md"))
    }
  }

  final case class Outcome(
      result: StageResult, wallSec: Double, heapPeakMb: Long, heapLiveMb: Long, base: String)

  private def heapPeakMb(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / (1024L * 1024L)
  }

  /** Used heap after a forced collection and a short settle, in MB: what
    * the JVM still holds live, which unlike the pools' peaks does not
    * depend on when the collector last ran. */
  private def heapLiveMb(): Long = {
    System.gc()
    Thread.sleep(200)
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024L * 1024L)
  }

  /** Median-of-3 walls of two variants, run interleaved A,B,A,B,A,B after
    * one joint warmup, so shared JIT heat cannot favor the second. */
  private[graft] def medianPair(a: => Unit, b: => Unit): (Double, Double) = {
    a; b
    val runs = (1 to 3).map(_ => (timed(a)._2, timed(b)._2))
    (runs.map(_._1).sorted.apply(1), runs.map(_._2).sorted.apply(1))
  }

  /** Evaluate every row of `df` through the noop sink. */
  private[graft] def force(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Every registered stage. */
  lazy val stages: Seq[Stage] =
    Seq(backfill, validators, events, curate) ++ scale.CorpusStages.all ++
      scale.VectorStages.all ++ scale.GraphStages.all ++ scale.TableStages.all

  private lazy val byName: Map[String, Stage] = {
    val m = stages.map(s => s.name -> s).toMap
    require(m.size == stages.size, "duplicate stage names")
    m
  }

  /** The stage `args` select and the arguments left for its parameters: a
    * numeric or absent first argument selects backfill. */
  def resolve(args: Seq[String]): (Stage, Seq[String]) = args match {
    case h +: t if !h.forall(_.isDigit) =>
      (byName.getOrElse(h, throw new IllegalArgumentException(
        s"unknown stage '$h'; registered stages: ${stages.map(_.name).mkString(", ")}")), t)
    case _ => (backfill, args)
  }

  /** Run `stage` in a fresh base dir; the dir is deleted even when the
    * stage throws. */
  def execute(spark: SparkSession, stage: Stage, params: Params): Outcome = {
    val base = Files.createTempDirectory(s"graft_scale_${stage.name}_").toString
    try {
      val (r, sec) = timed(stage.run(spark, params, base))
      Outcome(r, sec, heapPeakMb(), heapLiveMb(), base)
    } finally Fs.deleteDir(spark, base)
  }

  private def rows(out: Outcome): Seq[(String, Any)] =
    out.result.metrics :+ ("peak heap" -> s"${out.heapPeakMb} MB") :+
      ("live heap" -> s"${out.heapLiveMb} MB")

  /** The stage's SCALE.md section. */
  def render(stage: Stage, params: Params, cores: Int, out: Outcome): String = {
    val r = out.result
    val cmd = s"""`SPARK_GRAFT_CPUS=$cores sbt "runMain graft.Scale ${stage.name} ${params.cli}"` —"""
    val table = "| metric | value |" +: "|---|---|" +: rows(out).map { case (l, v) => s"| $l | $v |" }
    Seq(s"${stage.header} ${r.subtitle}".trim, s"$cmd\n${r.intro}", table.mkString("\n"), r.notes)
      .filter(_.nonEmpty).mkString("", "\n\n", "\n")
  }

  /** The stage's one-line JSON record: wall seconds as `value`, then the
    * same metrics as the markdown table. Non-ASCII characters are written
    * as JSON unicode escapes, so the line survives a stdout that is not
    * UTF-8. */
  def json(stage: Stage, out: Outcome): String = {
    def q(s: String) = "\"" + Observability.jsonEscape(s)
      .flatMap(c => if (c > '~') f"\\u${c.toInt}%04x" else c.toString) + "\""
    def v(x: Any): String = x match {
      case d: Double if d.isNaN || d.isInfinite => q(d.toString)
      case _: Double | _: Long | _: Int | _: Boolean => x.toString
      case other => q(other.toString)
    }
    (Seq("metric" -> s"scale_${stage.name}", "value" -> out.wallSec, "unit" -> "sec") ++ rows(out))
      .map { case (k, x) => s"${q(k)}:${v(x)}" }.mkString("{", ",", "}")
  }

  /** Replace ONLY the section of `outMd` whose heading line starts with
    * `header` (through the next `# ` or `## ` heading or EOF), appending it
    * when absent; sections are separated by one blank line. A splice that kept
    * only the prefix would drop every LATER section whenever an earlier
    * stage re-ran. */
  private[graft] def spliceSection(outMd: String, header: String, section: String): Unit = {
    val path = Paths.get(outMd)
    val existing = if (Files.exists(path)) Files.readString(path) else ""
    val i = Iterator.iterate(existing.indexOf(header))(j => existing.indexOf(header, j + 1))
      .takeWhile(_ >= 0).find(j => j == 0 || existing(j - 1) == '\n').getOrElse(-1)
    val (before, after) =
      if (i < 0) (existing, "")
      else {
        val next = Seq("\n# ", "\n## ").map(existing.indexOf(_, i)).filter(_ >= 0)
          .minOption.getOrElse(-1)
        (existing.substring(0, i), if (next < 0) "" else existing.substring(next + 1))
      }
    def trimNl(s: String) = s.dropWhile(_ == '\n').reverse.dropWhile(_ == '\n').reverse
    Files.writeString(path,
      Seq(before, section, after).map(trimNl).filter(_.nonEmpty).mkString("", "\n\n", "\n"))
  }

  def main(args: Array[String]): Unit = {
    val (stage, rest) = resolve(args.toSeq)
    val (params, outMd) = stage.parse(rest)
    val cores = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = Sessions.local(cores)
    try {
      val out = execute(spark, stage, params)
      spliceSection(outMd, stage.header, render(stage, params, cores, out))
      println(json(stage, out))
    } finally spark.stop()
  }

  // ---- shared corpus generators ---------------------------------------

  /** Deterministic synthetic corpus for the dedup stages, generated
    * ENTIRELY executor-side by codegen'd hashes (the driver holds only
    * the range): `nDocs` rows of `tokensPerDoc` words drawn from a
    * `vocabSize` vocabulary via xxhash64(seed, position); every 20th doc
    * reuses its successor's word stream plus one extra token — a planted
    * near-dup pair with 3-shingle Jaccard 48/49 ≈ 0.98, far above the
    * 0.8 threshold. */
  def genDedupCorpus(
      spark: SparkSession, nDocs: Long,
      tokensPerDoc: Int = 50, vocabSize: Int = 5000): DataFrame =
    spark.range(nDocs).toDF("doc_id")
      .withColumn("seed",
        when(col("doc_id") % 20 === 0, col("doc_id") + 1).otherwise(col("doc_id")))
      .withColumn("text", concat(
        array_join(
          transform(sequence(lit(1), lit(tokensPerDoc)),
            j => concat(lit("w"), pmod(xxhash64(col("seed"), j), lit(vocabSize.toLong)))),
          " "),
        when(col("doc_id") % 20 === 0, lit(" extradup")).otherwise(lit(""))))
      .select("doc_id", "text")

  /** Deterministic synthetic embedding corpus: `n` vectors × `dim`
    * components drawn uniform-ish from [-1,1] via xxhash64(seed, j),
    * generated ENTIRELY executor-side. Every 20th vector reuses its
    * successor's seed plus a +0.01 shift on every component — a planted
    * semantic near-dup with cosine ≈ 0.9998 against ~0.0±0.125 for
    * random 64-dim pairs, mirroring what an embedding model emits for
    * near-identical documents. */
  def genEmbCorpus(spark: SparkSession, n: Long, dim: Int = 64): DataFrame =
    spark.range(n).toDF("vec_id")
      .withColumn("seed",
        when(col("vec_id") % 20 === 0, col("vec_id") + 1).otherwise(col("vec_id")))
      .withColumn("embedding",
        transform(sequence(lit(1), lit(dim)),
          j => (pmod(xxhash64(col("seed"), j), lit(2001L)).cast("double") / 1000.0
            - 1.0
            + when(col("vec_id") % 20 === 0, 0.01).otherwise(0.0)).cast("float")))
      .select("vec_id", "embedding")

  /** Clustered synthetic embedding corpus — the geometry real embedding
    * models emit (documents concentrate around topic directions), which
    * is the case IVF indexing exists for: vector i belongs to cluster
    * `i % nClusters`, its components are the cluster's base direction
    * (xxhash-uniform in [-1,1]) plus ±0.15 per-vector noise. Same-cluster
    * cosine ≫ cross-cluster, so true nearest neighbors share lists and
    * probe recall measures something real (a UNIFORM corpus is the
    * adversarial no-structure case: every list holds equally-near
    * vectors and nProbe/k recall is the floor). */
  def genClusteredEmbCorpus(
      spark: SparkSession, n: Long, dim: Int = 64, nClusters0: Int = 0): DataFrame = {
    // default topic granularity scales with the corpus (~2000 docs/topic,
    // the regime real embedding corpora sit in); fixed tiny cluster
    // counts at large n produce pathological 50k-strong identical blobs
    val nClusters =
      if (nClusters0 > 0) nClusters0
      else math.min(1024L, math.max(16L, n / 2000L)).toInt
    spark.range(n).toDF("vec_id")
      .withColumn("c", pmod(col("vec_id"), lit(nClusters.toLong)))
      .withColumn("embedding",
        transform(sequence(lit(1), lit(dim)),
          j => ((pmod(xxhash64(col("c"), j), lit(2001L)).cast("double") / 1000.0 - 1.0)
            + (pmod(xxhash64(col("vec_id"), j), lit(2001L)).cast("double") / 1000.0 - 1.0)
              * 0.5).cast("float")))
      .select("vec_id", "embedding")
  }

  /** Deterministic synthetic event log, generated ENTIRELY executor-side
    * (the driver holds only the range): `perUser` events per user at a
    * 300 s cadence, with every 50th inter-event gap stretched to 7200 s —
    * so each user has EXACTLY `perUser/50` sessions of exactly 50 events
    * at a 30-minute threshold, and every odd-index event is a `click`
    * whose nearest preceding `purchase` is its immediate predecessor at a
    * 300 s gap. `value` is `event_id/1000`, so interval-join matches are
    * countable in closed form. Exact planted invariants for the w4/j8/j9
    * operator family at any corpus size. */
  def genEventCorpus(spark: SparkSession, nEvents: Long, perUser: Long = 200L): DataFrame = {
    require(nEvents % perUser == 0, "nEvents must be a multiple of perUser")
    spark.range(nEvents).toDF("event_id")
      .withColumn("user_id", expr(s"event_id div $perUser"))
      .withColumn("idx", col("event_id") % perUser)
      .withColumn("sec",
        lit(1700000000L) + col("idx") * 300L + expr("idx div 50") * 6900L)
      .withColumn("ts", timestamp_seconds(col("sec")))
      .withColumn("event_type",
        when(col("idx") % 2 === 0, "purchase").otherwise("click"))
      .withColumn("value", col("event_id").cast("double") / 1000.0)
      .select("event_id", "ts", "user_id", "event_type", "value")
  }

  // ---- backfill ---------------------------------------------------------

  /** Deterministic synthetic electra-style block (~2.4 KB): enough body
    * (attestations, eth1, sync aggregate, execution payload, withdrawals)
    * to exercise every parser branch the blocks loader fans out to.
    * Every 32nd slot is 404-empty, like a chain with missed proposals. */
  final case class SyntheticFetcher() extends SlotFetcher {
    def fetch(slot: Long): Option[String] = {
      if (slot % 32 == 31) return None
      val att = (0 until 4).map { i =>
        s"""{"aggregation_bits":"0xffffffffffffff01","data":{"slot":"${math.max(0L, slot - 1)}","index":"$i","beacon_block_root":"0x${"ab" * 32}","source":{"epoch":"${math.max(0L, slot - 2) / 16}","root":"0x${"cd" * 32}"},"target":{"epoch":"${math.max(0L, slot - 1) / 16}","root":"0x${"ef" * 32}"}},"signature":"0x${"12" * 48}"}"""
      }.mkString("[", ",", "]")
      Some(
        s"""{"version":"electra","execution_optimistic":false,"finalized":true,"data":{"message":{"slot":"$slot","proposer_index":"${slot % 100000}","parent_root":"0x${"aa" * 32}","state_root":"0x${"bb" * 32}","body":{"randao_reveal":"0x${"cc" * 48}","eth1_data":{"deposit_root":"0x${"dd" * 32}","deposit_count":"${slot % 1000}","block_hash":"0x${"ee" * 32}"},"graffiti":"0x${"00" * 32}","proposer_slashings":[],"attester_slashings":[],"attestations":$att,"deposits":[],"voluntary_exits":[],"sync_aggregate":{"sync_committee_bits":"0x${"ff" * 64}","sync_committee_signature":"0x${"ab" * 48}"},"execution_payload":{"parent_hash":"0x${"12" * 32}","fee_recipient":"0x${"34" * 20}","state_root":"0x${"56" * 32}","receipts_root":"0x${"78" * 32}","logs_bloom":"0x${"00" * 64}","prev_randao":"0x${"9a" * 32}","block_number":"$slot","gas_limit":"30000000","gas_used":"${10000000L + slot % 5000000L}","timestamp":"${1638993340L + slot * 5}","extra_data":"0x","base_fee_per_gas":"7","block_hash":"0x${"bc" * 32}","transactions":["0x01","0x02"],"withdrawals":[{"index":"$slot","validator_index":"${slot % 1000}","address":"0x${"de" * 20}","amount":"123"}]},"blob_kzg_commitments":[]}},"signature":"0x${"f0" * 48}"}}""")
    }
  }

  final case class ScaleStats(
      totalSlots: Long, chunkSize: Long, chunks: Int, waves: Int,
      ingestSec: Double, transformSec: Double, querySec: Double,
      rawRows: Long, blocksRows: Long, attRows: Long,
      latestCount: Long, maxSlot: Long, monthRows: Int,
      heapAfterIngestMb: Long, heapAfterTransformMb: Long, heapFinalMb: Long,
      expectedPresent: Long, expectedMaxSlot: Long)

  /** The measurable core of the backfill stage (ScaleSpec also checks it
    * at tiny N). */
  def run(
      spark: SparkSession, totalSlots: Long, chunkSize: Long,
      waveChunks: Int, base: String,
      parallelism: Int): ScaleStats = {
    val cfg = ChainConfig.gnosis
    val fetcher = SyntheticFetcher()
    val ledger = LedgerStore(s"$base/load_state_chunks")
    val progress = LedgerStore(s"$base/transformer_progress")
    val ranges = (0L until totalSlots by chunkSize)
      .map(s => (s, math.min(s + chunkSize - 1, totalSlots - 1)))
    val nWaves = (ranges.size + waveChunks - 1) / waveChunks

    // ---- stage 1: fused ingest, waveChunks chunks per fused job ---------
    val (_, ingestSec) = timed {
      ranges.grouped(waveChunks).zipWithIndex.foreach { case (wave, i) =>
        require(RawIngest.ingestChunksFused(spark, cfg, fetcher, s"$base/raw",
          ledger, "blocks", wave, parallelism = parallelism),
          s"ingest wave $i failed")
        System.err.println(s"[scale] ingest wave ${i + 1}/$nWaves done")
      }
    }
    val rawRows = spark.read.parquet(s"$base/raw").count()
    val heapAfterIngest = heapPeakMb()

    // ---- stage 2: fused transform, same waves ---------------------------
    val (_, transformSec) = timed {
      ranges.grouped(waveChunks).zipWithIndex.foreach { case (wave, i) =>
        require(Transformer.transformChunksFused(spark, cfg, Loaders.blocks,
          s"$base/raw", s"$base/tables", progress, wave),
          s"transform wave $i failed")
        System.err.println(s"[scale] transform wave ${i + 1}/$nWaves done")
      }
    }
    val blocksRows = spark.read.parquet(s"$base/tables/blocks").count()
    val attRows = spark.read.parquet(s"$base/tables/attestations").count()
    val heapAfterTransform = heapPeakMb()

    // ---- stage 3: latest() reads + representative queries ---------------
    val (queryResults, querySec) = timed {
      val latestBlocks = Transformer.latestTable(
        spark, s"$base/tables", "blocks", Transformer.tableKeys("blocks"))
      val n = latestBlocks.count()
      val maxSlot = latestBlocks.agg(max("slot")).head().getLong(0)
      val monthly = latestBlocks
        .groupBy(date_format(cfg.slotTimestamp(col("slot")), "yyyy-MM").as("month"))
        .agg(count(lit(1)).as("n"), sum("sync_aggregate_participation").as("part"))
        .collect().length
      (n, maxSlot, monthly)
    }
    val (latestCount, maxSlot, monthRows) = queryResults
    // every slot ≡ 31 (mod 32) is 404-empty, so the last structured slot
    // is the largest s < totalSlots with s % 32 != 31
    val expectedMaxSlot =
      if ((totalSlots - 1) % 32 == 31) totalSlots - 2 else totalSlots - 1
    require(maxSlot == expectedMaxSlot,
      s"max structured slot $maxSlot, expected $expectedMaxSlot")
    ScaleStats(totalSlots, chunkSize, ranges.size, nWaves,
      ingestSec, transformSec, querySec, rawRows, blocksRows, attRows,
      latestCount, maxSlot, monthRows,
      heapAfterIngest, heapAfterTransform, heapPeakMb(),
      (0L until totalSlots).count(_ % 32 != 31), expectedMaxSlot)
  }

  val backfill: Stage = Stage("backfill", "# SCALE",
      Seq("totalSlots" -> 1000000L), tiny = "2000") { (spark, p, base) =>
    val cores = spark.sparkContext.defaultParallelism
    // 100 chunks of 1000 slots = 100k slots per fused job
    val st = run(spark, p.long("totalSlots"), chunkSize = 1000L, waveChunks = 100, base, cores)
    import st._
    val lastSlot =
      if (expectedMaxSlot == totalSlots - 1) "= totalSlots − 1: the last slot is present"
      else "= totalSlots − 2: the last slot is 404-empty"
    StageResult(
      "— 1M-slot synthetic backfill (order-of-magnitude stress run)",
      s"""end-to-end run of the PRODUCTION paths on a deterministic synthetic
         |corpus (electra-style ~2.4 KB payloads, every 32nd slot 404-empty)
         |on local[$cores]: fused ingest → fused transform → latest() window reads.""".stripMargin,
      Seq(
        s"ingest (fetch+hash+dedup+write, $chunks chunks in $waves fused jobs)" ->
          f"$ingestSec%.1f s — $rawRows raw, ${rawRows / ingestSec}%.0f rows/s",
        s"transform (parse → ${Loaders.blocks.tables.size} tables, per-chunk progress rows)" ->
          f"$transformSec%.1f s — $blocksRows blocks + $attRows attestations, ${(blocksRows + attRows) / transformSec}%.0f rows/s out (${rawRows / transformSec}%.0f in)",
        "latest() count + max + monthly rollup" ->
          f"$querySec%.1f s — $latestCount latest blocks, $monthRows month rows, ${latestCount / querySec}%.0f rows/s"),
      s"""- slots: $totalSlots (chunk size $chunkSize); present slots $expectedPresent — raw/blocks row counts match exactly: ${rawRows == expectedPresent && blocksRows == expectedPresent}
         |- max structured slot: $maxSlot ($lastSlot; every slot ≡ 31 mod 32 is 404-empty by construction)
         |- peak driver+executor heap (single JVM local[$cores]): after ingest ${heapAfterIngestMb} MB, after transform ${heapAfterTransformMb} MB, final ${heapFinalMb} MB
         |- driver never holds row data: ranges only ($chunks tuples), slots explode executor-side, ledger transitions are bulk appends
         |- baseline floor (reference BASELINE.md: ≥1,000 rows/s batch insert): exceeded by ${f"${rawRows / ingestSec / 1000.0}%.0f"}×""".stripMargin)
  }

  // ---- validators -------------------------------------------------------

  /** Deterministic synthetic validators state (reference scale anchor:
    * each validators chunk parses a full ~400k-entry state, reference
    * config.py:60-62; ~150 MB/slot on mainnet). Every
    * entry carries the full validator object incl. FAR_FUTURE sentinel
    * epochs so the safe_long clamp is on the hot path. ~370 B/entry →
    * 400k entries ≈ 150 MB of JSON per daily state. */
  final case class SyntheticValidatorsFetcher(entries: Int) extends SlotFetcher {
    private val pad = "0" * 96
    def fetch(slot: Long): Option[String] = {
      val sb = new java.lang.StringBuilder(64 + entries * 380)
      sb.append("""{"execution_optimistic":false,"finalized":true,"data":[""")
      var i = 0
      while (i < entries) {
        if (i > 0) sb.append(',')
        val hx = java.lang.Long.toHexString(i.toLong)
        sb.append("{\"index\":\"").append(i)
          .append("\",\"balance\":\"").append(32000000000L + (slot + i) % 1000000L)
          .append("\",\"status\":\"")
          .append(if (i % 97 == 0) "exited_unslashed" else "active_ongoing")
          .append("\",\"validator\":{\"pubkey\":\"0x")
          .append(pad, 0, 96 - hx.length).append(hx)
          .append("\",\"withdrawal_credentials\":\"0x01")
          .append(pad, 0, 62 - hx.length).append(hx)
          .append("\",\"effective_balance\":\"32000000000\",\"slashed\":")
          .append(i % 1009 == 0)
          .append(",\"activation_eligibility_epoch\":\"0\",\"activation_epoch\":\"0\",\"exit_epoch\":\"")
          .append(if (i % 97 == 0) "123456" else "18446744073709551615")
          .append("\",\"withdrawable_epoch\":\"18446744073709551615\"}}")
        i += 1
      }
      sb.append("]}")
      Some(sb.toString)
    }
  }

  final case class ValidatorsScaleStats(
      days: Int, entries: Int, streamSec: Double, parquetSec: Double,
      rawParts: Long, partsPerDay: Double, validatorRows: Long,
      latestRows: Long, maxSlot: Long, parityOk: Boolean,
      heapStartMb: Long, heapEndMb: Long)

  /** Daily-cadence validators stage: ≥90 simulated days of ~400k-entry
    * states driven through the PRODUCTION daily MicroBatchStream
    * (readStream → daily chunk plan → split-path ingest → chained
    * transform), plus a split-vs-whole parity check on one day. The
    * measured shape is P19's worst case: one mega-payload per task,
    * split into ≤50k-entry parts at fetch time so no single row exceeds
    * the part bound. */
  def runValidators(
      spark: SparkSession, days: Int, entries: Int, base: String): ValidatorsScaleStats = {
    import graft.streaming.{HeadProbe, StreamingJobs, TailChunkSource}
    val cfg = ChainConfig.gnosis
    val fetcher = SyntheticValidatorsFetcher(entries)
    val heapStart = heapPeakMb()
    val slotDelay = 50L
    val slotsPerDay = 86400L / cfg.secondsPerSlot
    val dailies = TailChunkSource
      .dailySlots(cfg, 0L, (days + 1).toLong * slotsPerDay)
      .take(days)
    require(dailies.size == days, s"wanted $days daily slots, got ${dailies.size}")
    val head = dailies.last + slotDelay
    val probe = new HeadProbe { def headSlot(): Long = head }
    TailChunkSource.registerProbe("scale-validators", probe, cfg)
    val ledger = LedgerStore(s"$base/cl")
    val progress = LedgerStore(s"$base/tp")
    val (_, streamSec) = timed {
      val q = StreamingJobs.chunkTailStream(spark, cfg, fetcher,
        "scale-validators", s"$base/raw_validators", ledger, "validators",
        s"$base/ckpt", chunkSize = 1000L, slotDelay = slotDelay,
        chainedTransform = Some((s"$base/tables", progress)))
      require(q.awaitTermination(4 * 3600 * 1000L), "validators stream timed out")
    }
    val (counts, parquetSec) = timed {
      val rawParts = spark.read.parquet(s"$base/raw_validators").count()
      val rows = spark.read.parquet(s"$base/tables/validators").count()
      val latest = Transformer.latestTable(
        spark, s"$base/tables", "validators", Transformer.tableKeys("validators"))
      val latestRows = latest.count()
      val maxSlot = latest.agg(max("slot")).head().getLong(0)
      (rawParts, rows, latestRows, maxSlot)
    }
    val (rawParts, validatorRows, latestRows, maxSlot) = counts

    // split-vs-whole parity on one day: the split path (parts) and the
    // whole-payload path must produce identical structured rows
    val daySlot = dailies.head
    val parityOk = {
      Seq(("split", true), ("whole", false)).foreach { case (name, split) =>
        require(RawIngest.ingestChunk(spark, cfg, fetcher,
          s"$base/parity_$name", LedgerStore(s"$base/parity_${name}_cl"),
          "validators", daySlot, daySlot, parallelism = 4,
          version = 1L, split = split))
        require(Transformer.transformChunk(spark, cfg, Loaders.validators,
          s"$base/parity_$name", s"$base/parity_${name}_tables",
          LedgerStore(s"$base/parity_${name}_tp"), daySlot, daySlot,
          version = 1L))
      }
      val a = spark.read.parquet(s"$base/parity_split_tables/validators")
      val b = spark.read.parquet(s"$base/parity_whole_tables/validators")
      a.count() == entries.toLong && b.count() == entries.toLong &&
        a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty
    }
    ValidatorsScaleStats(days, entries, streamSec, parquetSec,
      rawParts, rawParts.toDouble / days, validatorRows, latestRows, maxSlot,
      parityOk, heapStart, heapPeakMb())
  }

  val validators: Stage = Stage("validators", "## Validators mega-payload daily stage",
      Seq("days" -> 92, "entries" -> 400000), tiny = "1 2000") { (spark, p, base) =>
    val st = runValidators(spark, p.int("days"), p.int("entries"), base)
    import st._
    val approxMbPerDay = entries * 370L / (1024 * 1024)
    StageResult(
      "(P19 split path through the daily MicroBatchStream)",
      s"""$days simulated days at the production daily cadence (readStream daily
         |mode → last-slot-of-UTC-day chunk plan → split-path ingest → chained
         |per-chunk transform), each day one synthetic ~${entries / 1000}k-entry
         |(~$approxMbPerDay MB JSON) validators state with FAR_FUTURE sentinel
         |epochs on the safe_long hot path (reference: config.py:60-62 —
         |"each validators chunk parses a full ~400k-entry state").""".stripMargin,
      Seq(
        s"stream wall (ingest + transform, $days days)" ->
          f"$streamSec%.1f s (${validatorRows / streamSec}%.0f validator rows/s end-to-end)",
        "raw part rows" -> f"$rawParts ($partsPerDay%.1f parts/day — the ≤50k-entry split bound)",
        "validators rows" -> s"$validatorRows (= days × entries: ${validatorRows == days.toLong * entries})",
        "latest() rows / max slot" -> s"$latestRows / $maxSlot",
        "split-vs-whole parity (1 day, exceptAll both ways)" -> parityOk,
        "peak heap before / after" -> s"$heapStartMb MB / $heapEndMb MB"),
      s"""- the driver holds daily chunk RANGES only; each ~$approxMbPerDay MB state is
         |  fetched, split into parts, and parsed entirely executor-side
         |- bounded heap: the split bound caps any single row / task at ~18 MB
         |  regardless of state size — the knob that survives 2M-validator states""".stripMargin)
  }

  // ---- event ops --------------------------------------------------------

  final case class EventOpsStats(
      genSec: Double, sessSec: Double, nativeSec: Double, asofSec: Double,
      rollSec: Double, intervalSec: Double,
      nSessions: Long, nativeSessions: Long, minEvents: Long, maxEvents: Long,
      asofRows: Long, asofWrong: Long, maxRoll: Long, intervalPairs: Long,
      expectedPairs: Long)

  /** The measurable core of the event-ops stage (ScaleSpec also checks it
    * at tiny N with the SAME exact invariants). */
  def runEvents(spark: SparkSession, nEvents: Long, base: String): EventOpsStats = {
    val perUser = 200L
    val (_, genSec) = timed {
      genEventCorpus(spark, nEvents, perUser)
        .write.mode("overwrite").parquet(s"$base/events.parquet")
    }

    // w4: lag/running-sum sessionization — exact session structure
    val ((nSessions, minEv, maxEv), sessSec) = timed {
      val r = graft.queries.Inventory.w4Sessionization(spark, base)
        .agg(count(lit(1)), min("n_events"), max("n_events")).head()
      (r.getLong(0), r.getLong(1), r.getLong(2))
    }

    // native session_window — must agree on the session COUNT
    val (nativeSessions, nativeSec) = timed {
      graft.streaming.StreamingJobs.sessionWindows(
        spark.read.parquet(s"$base/events.parquet"), "ts", "user_id",
        gapSeconds = 1801L).count()
    }

    // j8 as-of: every click matches its immediate-predecessor purchase
    val ((asofRows, asofWrong), asofSec) = timed {
      val r = graft.queries.Inventory.j8AsofJoin(spark, base)
        .agg(
          count(lit(1)),
          sum(when(col("purchase_id") === col("click_id") - 1 &&
            col("gap_s") === 300L, 0L).otherwise(1L))).head()
      (r.getLong(0), r.getLong(1))
    }

    // w5 rolling counts: the 300 s cadence fills the 1-hour frame to 13
    val (maxRoll, rollSec) = timed {
      graft.queries.Inventory.w5RollingCounts(spark, base)
        .agg(max("n_1h")).head().getLong(0)
    }

    // j9 interval join: clicks (odd ids) against purchase bands of
    // half-width 0.0055 → purchases within 5 ids; closed-form pair count
    val (intervalPairs, intervalSec) = timed {
      val ev = spark.read.parquet(s"$base/events.parquet")
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("value"))
      val bands = ev.filter(col("event_type") === "purchase")
        .select(
          (col("value") - 0.0055).as("lo"), (col("value") + 0.0055).as("hi"))
      graft.operators.IntervalJoin
        .pointInInterval(clicks, "value", bands, "lo", "hi", bucketWidth = 0.01)
        .count()
    }
    // each odd click id c matches the even purchase ids {c±1, c±3, c±5}
    // clipped to [0, nEvents): 6 per interior click, boundary deficit
    // 2+1 low (c=1,3) and 3+2+1 high (c=n-1,n-3,n-5) → 3n − 9 total
    val expectedPairs = 3L * nEvents - 9L
    EventOpsStats(genSec, sessSec, nativeSec, asofSec, rollSec, intervalSec,
      nSessions, nativeSessions, minEv, maxEv, asofRows, asofWrong, maxRoll,
      intervalPairs, expectedPairs)
  }

  val events: Stage = Stage("events", "## Event-ops corpus stage",
      Seq("nEvents" -> 20000000L), tiny = "4000") { (spark, p, base) =>
    val nEvents = p.long("nEvents")
    val st = runEvents(spark, nEvents, base)
    import st._
    val perUser = 200L
    val nUsers = nEvents / perUser
    require(nSessions == nUsers * 4 && minEvents == 50 && maxEvents == 50,
      s"session invariant broke: $nSessions sessions, events $minEvents..$maxEvents")
    require(nativeSessions == nSessions,
      s"native session_window disagrees: $nativeSessions vs $nSessions")
    require(asofRows == nEvents / 2 && asofWrong == 0,
      s"as-of invariant broke: $asofRows rows, $asofWrong wrong")
    require(maxRoll == 13L, s"rolling-count invariant broke: max $maxRoll")
    require(intervalPairs == expectedPairs,
      s"interval-join invariant broke: $intervalPairs vs $expectedPairs")
    def op(sec: Double, invariant: String) =
      f"$sec%.1f s, ${nEvents / sec}%.0f rows/s — $invariant"
    StageResult(
      s"(sessionization / as-of / range join at ${nEvents / 1000000}M events)",
      s"""the merge-shaped event operators driven over a ${nEvents / 1000000}M-row
         |synthetic log ($nUsers users × $perUser events, planted session and
         |as-of structure with closed-form expected results — every check is
         |an EXACT equality, not a statistical floor).""".stripMargin,
      Seq(
        "corpus generate + write" -> f"$genSec%.1f s",
        "w4 sessionization (lag → running sum → agg)" ->
          op(sessSec, s"$nSessions sessions = users × 4, every session exactly 50 events"),
        "native session_window (same corpus)" ->
          op(nativeSec, s"session count agrees with w4: $nativeSessions"),
        "j8 as-of join (merge shape)" ->
          op(asofSec, s"${nEvents / 2} clicks ALL matched to predecessor purchase at gap 300 s, 0 wrong"),
        "w5 rolling 1-h counts (RANGE frame)" ->
          op(rollSec, "frame fills to exactly 13 at the 300 s cadence"),
        "j9 interval join (bucketed equi)" ->
          op(intervalSec, s"$intervalPairs pairs = closed-form count ($expectedPairs)")),
      """- every operator is ONE shuffle of narrow rows (the windows and the
        |  session agg share the user_id exchange; the interval join is an
        |  equi join on bucket ids) — wall time scales with the exchange,
        |  which is why the same shapes hold on a 1000-executor cluster""".stripMargin)
  }

  // ---- curate funnel ----------------------------------------------------

  final case class CurateStats(
      genSec: Double, qualitySec: Double, dedupSec: Double, lineSec: Double,
      n0: Long, n1: Long, n2: Long, n3: Long)

  /** End-to-end RefinedWeb-ordered curation funnel (quality gate →
    * whole-doc near-dup dedup → chunk-level line dedup) on the planted
    * dedup corpus plus exactly-too-short docs at every doc_id ≡ 0
    * (mod 100). The plants make every stage's effect CLOSED-FORM:
    *   n1 = n − n/100                  (quality drops the shorts, exactly)
    *   n1 − n2 ∈ [0.9·P, P]            (LSH recall on live pairs,
    *                                    P = n/20 − n/100; Jaccard verify
    *                                    admits no false positives)
    *   n3 = n1 − P                     (EXACT regardless of LSH recall —
    *                                    pairs the fuzzy stage missed lose
    *                                    their later member to chunk-level
    *                                    first-occurrence dedup: the
    *                                    fuzzy+exact layering working as
    *                                    designed)
    * Production hash family (xxhash64), not the oracle's md5-parity. */
  def runCurate(spark: SparkSession, nDocs: Long, base: String): CurateStats = {
    require(nDocs % 100 == 0, "nDocs must be a multiple of 100")
    import graft.operators.{Dedup, TextAnalysis}
    val (_, genSec) = timed {
      genDedupCorpus(spark, nDocs)
        .withColumn("text",
          when(col("doc_id") % 100 === 0, lit("x")).otherwise(col("text")))
        .write.mode("overwrite").parquet(s"$base/docs")
    }
    val docs = spark.read.parquet(s"$base/docs")
    val n0 = docs.count()
    val (q, qualitySec) = timed {
      val f = TextAnalysis.qualityFilter(docs, "text")
        .filter(col("quality_ok"))
        .select(docs.columns.toIndexedSeq.map(col): _*)
        .persist()
      f.count()
      f
    }
    val n1 = q.count()
    val ((deduped, n2), dedupSec) = timed {
      val groups = Dedup.nearDupGroups(q, "doc_id", "text").persist()
      val kept = q.join(
        groups.filter(col("is_representative")).select(col("doc_id")),
        Seq("doc_id"), "left_semi").persist()
      val n = kept.count()
      groups.unpersist(blocking = false)
      (kept, n)
    }
    val (n3, lineSec) = timed {
      val chunks = Dedup.chunkDedup(deduped, "doc_id", "text", 10)
      val n = chunks.filter(col("text_dedup").isNotNull).count()
      chunks.unpersist(blocking = false)
      n
    }
    q.unpersist(blocking = false)
    deduped.unpersist(blocking = false)
    CurateStats(genSec, qualitySec, dedupSec, lineSec, n0, n1, n2, n3)
  }

  val curate: Stage = Stage("curate", "## Curate funnel stage",
      Seq("nDocs" -> 1000000L), tiny = "4000") { (spark, p, base) =>
    val nDocs = p.long("nDocs")
    val st = runCurate(spark, nDocs, base)
    import st._
    val livePairs = nDocs / 20 - nDocs / 100
    require(n0 == nDocs, s"corpus count $n0 != $nDocs")
    require(n1 == nDocs - nDocs / 100, s"quality invariant broke: $n1")
    val found = n1 - n2
    require(found >= (livePairs * 9) / 10 && found <= livePairs,
      s"near-dup invariant broke: found $found of $livePairs live pairs")
    require(n3 == n1 - livePairs,
      s"fuzzy+exact layering invariant broke: n3=$n3 expected ${n1 - livePairs}")
    val totalSec = qualitySec + dedupSec + lineSec
    StageResult(
      s"(quality → near-dup → line dedup over ${nDocs / 1000}k docs, production hash family)",
      """the composed corpus-curation funnel (the `corpus curate` CLI's
        |RefinedWeb ordering) end to end, with plants that make EVERY
        |stage's effect a closed-form equality: exactly-too-short docs at
        |1%, near-dup pairs at every 20th doc.""".stripMargin,
      Seq(
        "corpus generate + write" -> f"$genSec%.1f s",
        "1 quality gate" ->
          f"$qualitySec%.1f s, $n0 → $n1 docs — n − n/100 EXACT (${n1 == nDocs - nDocs / 100})",
        "2 near-dup dedup (MinHash-LSH → Jaccard → components)" ->
          f"$dedupSec%.1f s, $n1 → $n2 docs — dropped $found of $livePairs live pairs (recall ${found.toDouble / livePairs}%.3f, 0 false positives possible past exact-Jaccard verify)",
        "3 chunk/line dedup (10-token first-occurrence)" ->
          f"$lineSec%.1f s, $n2 → $n3 docs — n1 − P EXACT regardless of stage-2 recall (${n3 == n1 - livePairs}) — missed fuzzy pairs die here",
        "funnel wall" -> f"$totalSec%.1f s (${nDocs / totalSec}%.0f docs/s end-to-end)"),
      """- the n3 equality is the fuzzy+exact LAYERING guarantee: chunk-level
        |  first-occurrence dedup catches exactly the pairs LSH recall
        |  missed, so final yield is deterministic even though stage 2 is
        |  approximate — the reason curate orders the stages this way""".stripMargin)
  }
}
