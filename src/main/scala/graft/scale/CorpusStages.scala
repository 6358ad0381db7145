package graft.scale

import graft.Scale.{Stage, StageResult, force, genClusteredEmbCorpus, genDedupCorpus, medianPair}
import graft.core.Metrics.timed
import graft.core.Sessions.withConf
import graft.operators.{Dedup, Similarity}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale stages for the training-data curation operators over text and
  * media corpora: near-dup and exact dedup, text kernels, incremental
  * re-processing, importance weighting, tokenizer training and the real
  * media codecs. */
object CorpusStages {

  /** Rows of `groups` (id column `idCol`, component `group`) where planted
    * doc i (i % 20 == 0) shares a component with its successor i+1. */
  private[scale] def plantedPairsRecalled(groups: DataFrame, idCol: String): Long = {
    val a = groups.filter(col(idCol) % 20 === 0)
      .select(col(idCol).as("d"), col("group").as("g1"))
    val b = groups.select((col(idCol) - 1).as("d"), col("group").as("g2"))
    a.join(b, "d").filter(col("g1") === col("g2")).count()
  }

  /** The LLM-pipeline near-dup flagship at three orders of magnitude above
    * the sf0.01 oracle corpus, on the PRODUCTION hash family (single-pass
    * xxhash64 MinHash kernel, not the declared queries' md5-parity
    * family): corpus gen → parquet → LSH candidates → exact Jaccard →
    * connected components, with planted-pair recall as the correctness
    * signal. */
  val dedup: Stage = Stage("dedup", "## Near-dup corpus stage",
      Seq("nDocs" -> 1000000L), tiny = "2000") { (spark, p, base) =>
    val nDocs = p.long("nDocs")
    val (_, genSec) = timed {
      genDedupCorpus(spark, nDocs).write.mode("overwrite").parquet(s"$base/docs")
    }
    val docs = spark.read.parquet(s"$base/docs")
    val planted = nDocs / 20
    val ((total, dropped, recalled), dedupSec) = timed {
      val groups = Dedup.nearDupGroups(docs, "doc_id", "text", jaccardThreshold = 0.8)
        .persist()
      val total = groups.count()
      val dropped = groups.filter(!col("is_representative")).count()
      // planted pair (i, i+1) recovered iff both landed in one component
      val recalled = plantedPairsRecalled(groups, "doc_id")
      groups.unpersist(blocking = false)
      (total, dropped, recalled)
    }
    StageResult(
      "(MinHash-LSH → Jaccard → components, production xxhash64 family)",
      s"""the full `Dedup.nearDupGroups` pipeline over a deterministic
         |synthetic corpus ${nDocs / 1000}k docs × ~50 tokens (generated
         |executor-side, materialized to parquet first like an at-rest
         |corpus); every 20th doc is a planted near-dup of its successor
         |(3-shingle Jaccard ≈ 0.98).""".stripMargin,
      Seq(
        "corpus generate + write" -> f"$genSec%.1f s ($nDocs docs)",
        "near-dup pipeline wall" -> f"$dedupSec%.1f s (${nDocs / dedupSec}%.0f docs/s)",
        "planted-pair recall" -> f"$recalled / $planted (${recalled.toDouble / planted}%.3f)",
        "docs in / dropped as dups" -> s"$total / $dropped"),
      """- the LSH band self-join is the only corpus shuffle; candidates,
        |  Jaccard, and the component loop all run on the band-bucket
        |  survivors, never all pairs""".stripMargin)
  }

  /** The adversarial corpus the planted-PAIR dedup stage cannot see: one
    * boilerplate page duplicated `clusterSize` times (every real crawl
    * corpus has such clusters), which lands in a single LSH bucket per
    * band. Without the [[graft.operators.Dedup.minhashCandidatePairs]]
    * hot-bucket ceiling this emits ~clusterSize²/2 candidate pairs (5×10⁹
    * at 100k) before distinct(); with it, an id-ordered chain —
    * O(clusterSize) — that still collapses the cluster into ONE component
    * with one representative. The stage asserts exactly that and records
    * the wall staying linear. */
  val hotbucket: Stage = Stage("hotbucket", "## Hot-bucket mega-cluster stage",
      Seq("clusterSize" -> 100000L, "nDocs" -> 1000000L), tiny = "2000 4000") { (spark, p, base) =>
    val (clusterSize, nDocs) = (p.long("clusterSize"), p.long("nDocs"))
    val boiler = (1 to 50).map(i => s"boilerplate$i").mkString(" ")
    val (_, genSec) = timed {
      spark.range(nDocs).toDF("doc_id")
        .withColumn("text",
          when(col("doc_id") < clusterSize, lit(boiler))
            .otherwise(array_join(
              transform(sequence(lit(1), lit(50)),
                j => concat(lit("w"), pmod(xxhash64(col("doc_id"), j), lit(5000L)))),
              " ")))
        .write.mode("overwrite").parquet(s"$base/docs")
    }
    val docs = spark.read.parquet(s"$base/docs")
    // candidate volume first: the uncapped op would emit ~n²/2 here
    val (candN, candSec) = timed {
      val pairs = Dedup.minhashCandidatePairs(
        docs, "doc_id", "text", numHashes = 8, rowsPerBand = 4, shingleWidth = 3)
      val n = pairs.count()
      pairs.unpersist(blocking = true)
      n
    }
    // full pipeline: the mega-cluster must still collapse to ONE group
    val ((clusterGroups, clusterDropped, total), wallSec) = timed {
      val groups = Dedup.nearDupGroups(docs, "doc_id", "text", jaccardThreshold = 0.8)
        .persist()
      val total = groups.count()
      val cg = groups.filter(col("doc_id") < clusterSize)
        .select("group").distinct().count()
      val cd = groups.filter(col("doc_id") < clusterSize)
        .filter(!col("is_representative")).count()
      groups.unpersist(blocking = false)
      (cg, cd, total)
    }
    require(clusterGroups == 1L,
      s"mega-cluster split into $clusterGroups components — chain edges broken")
    require(clusterDropped == clusterSize - 1,
      s"expected ${clusterSize - 1} dropped dups, got $clusterDropped")
    val naivePairs = clusterSize * (clusterSize - 1) / 2
    StageResult(
      s"(planted ${clusterSize / 1000}k-copy boilerplate cluster in a ${nDocs / 1000}k corpus)",
      s"""the quadratic hazard the pair-planted dedup stage cannot exhibit:
         |ONE page duplicated ${clusterSize / 1000}k times lands in a single LSH
         |band-bucket. The hot-bucket ceiling (id-ordered chain above
         |maxBucketAllPairs=1024) keeps candidate volume linear while the
         |cluster still dedups to one representative.""".stripMargin,
      Seq(
        "corpus generate + write" -> f"$genSec%.1f s ($nDocs docs, ${clusterSize / 1000}k-copy cluster)",
        "candidate pairs emitted" -> s"$candN (uncapped all-pairs would be ≥ $naivePairs)",
        "candidate generation wall" -> f"$candSec%.1f s",
        "full near-dup pipeline wall" -> f"$wallSec%.1f s (${nDocs / wallSec}%.0f docs/s)",
        "mega-cluster verdict" -> s"$clusterGroups component, $clusterDropped dups dropped (exact)",
        "docs in" -> total),
      s"""- the ${clusterSize / 1000}k-member bucket never reaches the all-pairs
         |  self-join: both join inputs filter to buckets ≤ the ceiling
         |  BEFORE the equi-join, and the oversized bucket contributes an
         |  id-ordered chain ($clusterSize − 1 edges) via one window pass
         |- chain edges are real candidates: exact Jaccard verifies each
         |  (boilerplate copies are identical → all pass), and connected
         |  components see the same single cluster all-pairs would give""".stripMargin)
  }

  /** The realtime dedup arm
    * ([[graft.streaming.StreamingJobs.streamingMinhashDedup]], the batch
    * pipeline's MinHash band family) under load: the planted-near-dup
    * corpus (same generator as the batch dedup stage) replayed as a file
    * stream of `nBatches` micro-batches through the band-bucket keyed
    * state, with the state store's row count and memory measured per
    * batch AND planted-pair recall as the quality gate (≥ 0.95 — the
    * SimHash variant measured 0.59 here and is demoted to the low-memory
    * option). */
  val streamdedup: Stage = Stage("streamdedup", "## Streaming near-dup dedup stage",
      Seq("nDocs" -> 1000000L, "nBatches" -> 20), tiny = "2000 2") { (spark, p, base) =>
    import graft.streaming.StreamingJobs
    val (nDocs, nBatches) = (p.long("nDocs"), p.int("nBatches"))
    val (_, genSec) = timed {
      genDedupCorpus(spark, nDocs).repartition(nBatches)
        .write.mode("overwrite").parquet(s"$base/in")
    }
    val schema = spark.read.parquet(s"$base/in").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$base/in")
    val verdicts = StreamingJobs.streamingMinhashDedup(stream, "doc_id", "text")
    // per-batch driver totals: (docs, dups, planted-docs flagged) — the
    // foreachBatch aggregate collects ONE row per batch, never verdicts
    val totals = new java.util.concurrent.atomic.AtomicLongArray(3)
    val q = verdicts.writeStream
      .outputMode("update")
      .option("checkpointLocation", s"$base/ckpt")
      .foreachBatch {
        (batch: org.apache.spark.sql.Dataset[StreamingJobs.BandVerdict], _: Long) =>
          val r = StreamingJobs.nearDupVerdicts(batch.toDF())
            .agg(
              count(lit(1)),
              sum(when(col("is_dup"), 1L).otherwise(0L)),
              sum(when(col("is_dup") &&
                (pmod(col("docId"), lit(20)) === 0 || pmod(col("docId"), lit(20)) === 1), 1L)
                .otherwise(0L))).head()
          totals.addAndGet(0, r.getLong(0))
          totals.addAndGet(1, if (r.isNullAt(1)) 0L else r.getLong(1))
          totals.addAndGet(2, if (r.isNullAt(2)) 0L else r.getLong(2))
          ()
      }
      .start()
    val (_, streamSec) = timed(q.processAllAvailable())
    val stateOps = q.recentProgress.toSeq.flatMap(_.stateOperators.headOption)
    val stateRowsFinal = stateOps.lastOption.map(_.numRowsTotal).getOrElse(-1L)
    val stateMemMb = stateOps.map(_.memoryUsedBytes).maxOption.getOrElse(0L) / 1e6
    q.stop()
    val docs = totals.get(0)
    val dups = totals.get(1)
    val plantedFlagged = totals.get(2)
    val planted = nDocs / 20
    require(docs == nDocs, s"stream saw $docs docs, expected $nDocs")
    val recall = plantedFlagged.toDouble / planted
    require(recall >= 0.95, s"planted near-dup recall below target: $recall")
    StageResult(
      s"(MinHash band-bucket keyed state, $nBatches micro-batches)",
      s"""the batch dedup stage's ${nDocs / 1000}k-doc planted-near-dup corpus
         |replayed as a parquet file stream (1 file per trigger) through
         |`streamingMinhashDedup` (the batch pipeline's MinHash band family:
         |8 hashes × 2 bands, 16-bit band buckets, flatMapGroupsWithState,
         |match = ≥6/8 signature components), verdicts folded per
         |micro-batch in foreachBatch.""".stripMargin,
      Seq(
        "corpus generate + write" -> f"$genSec%.1f s ($nDocs docs, $nBatches files)",
        s"stream wall ($nBatches micro-batches)" -> f"$streamSec%.1f s (${nDocs / streamSec}%.0f docs/s sustained)",
        "docs seen / flagged dups" -> s"$docs / $dups",
        "planted near-dup recall (either member flagged)" -> f"$plantedFlagged / $planted ($recall%.2f)",
        s"state-store rows after $nBatches batches" ->
          s"$stateRowsFinal bucket keys (hard key ceiling 131,072 = 2 bands × 2^16)",
        "state-store memory (max over batches)" -> f"$stateMemMb%.1f MB"),
      """- state is BOUNDED by construction: ≤ 256 (signature, id) pairs
        |  per bucket (8 32-bit components + id each), newest-first
        |  eviction — the
        |  measured rows/memory above are the constant under 1M-doc load,
        |  not a growth curve; a longer stream reuses the same buckets
        |- verdicts are per-micro-batch and cross-batch: a doc matches
        |  signatures admitted in ANY earlier batch via the state store""".stripMargin)
  }

  /** The sub-document exact-dedup pipeline
    * ([[graft.operators.Dedup.chunkDedup]], the CCNet line-dedup shape).
    * The [[graft.Scale.genDedupCorpus]] corpus gives exact deterministic
    * invariants: every planted pair (i, i+1) shares its five 10-token
    * chunks, so doc i+1 must be FULLY deduplicated (NULL text), and the
    * planted docs' shared " extradup" tail chunk survives exactly once —
    * removed-chunk and dropped-doc counts are equalities, not floors. */
  val chunkdedup: Stage = Stage("chunkdedup", "## Chunk-level (line) dedup stage",
      Seq("nDocs" -> 1000000L), tiny = "2000") { (spark, p, base) =>
    val nDocs = p.long("nDocs")
    val (_, genSec) = timed {
      genDedupCorpus(spark, nDocs).write.mode("overwrite").parquet(s"$base/docs")
    }
    val docs = spark.read.parquet(s"$base/docs")
    val planted = nDocs / 20
    val ((total, chunksIn, chunksRemoved, fullyDropped), dedupSec) = timed {
      val out = Dedup.chunkDedup(docs, "doc_id", "text", chunkTokens = 10).persist()
      val agg = out.agg(
        count(lit(1)), sum("n_chunks"), sum(col("n_chunks") - col("n_kept")),
        sum(when(col("text_dedup").isNull, 1L).otherwise(0L))).head()
      val r = (agg.getLong(0), agg.getLong(1), agg.getLong(2), agg.getLong(3))
      out.unpersist(blocking = false)
      r
    }
    // exact invariants (see Scaladoc): every planted successor fully
    // drops; removed chunks = 5 per planted pair + all-but-one extradup
    val invariantsOk =
      total == nDocs && fullyDropped == planted &&
        chunksRemoved == 6 * planted - 1 && chunksIn == nDocs * 5 + planted
    StageResult(
      "(corpus-wide repeated 10-token chunks removed, first occurrence wins)",
      s"""`Dedup.chunkDedup` over the ${nDocs / 1000}k-doc planted corpus:
         |chunking is a per-row expression; the duplicate scan shuffles only
         |(16-byte hash, id, idx); reassembly is one groupBy on the doc id.""".stripMargin,
      Seq(
        "corpus generate + write" -> f"$genSec%.1f s ($nDocs docs)",
        "chunk-dedup wall" ->
          f"$dedupSec%.1f s (${nDocs / dedupSec}%.0f docs/s, ${chunksIn / dedupSec}%.0f chunks/s)",
        "chunks in / removed as repeats" -> s"$chunksIn / $chunksRemoved",
        "docs fully deduplicated (NULL text)" -> fullyDropped,
        "exact invariants hold" -> invariantsOk))
  }

  /** The scan-side text kernels at corpus scale with planted closed-form
    * invariants: every 100th doc carries the BM25 query term ×3 (nothing
    * else can — the vocabulary is disjoint), every 10th doc a blocklist
    * token, and EVERY doc a `rep rep rep` run. BM25's whole top-k must be
    * planted docs at tf=3; the blocklist flag count is exact; run-dedup is
    * checked by idempotence (a second pass removes ZERO tokens) plus the
    * ≥2·n floor the plants guarantee; sorted-neighborhood blocking under
    * one planted-skew block has a closed-form pair count and a bounded
    * max task. */
  val textops: Stage = Stage("textops",
      "## Text-curation kernels stage (BM25 / blocklist / run-dedup)",
      Seq("nDocs" -> 1000000L), tiny = "2000") { (spark, p, base) =>
    import graft.operators.TextAnalysis
    val nDocs = p.long("nDocs")
    genDedupCorpus(spark, nDocs)
      .select(col("doc_id"),
        concat(col("text"),
          when(col("doc_id") % 100 === 0, lit(" target target target")).otherwise(lit("")),
          when(col("doc_id") % 10 === 0, lit(" blockedtok")).otherwise(lit("")),
          lit(" rep rep rep")).as("text"))
      .write.mode("overwrite").parquet(s"$base/docs")
    val docs = spark.read.parquet(s"$base/docs")

    val (top, bm25Sec) = timed {
      TextAnalysis.bm25TopK(docs, "doc_id", "text", Seq("target"), k = 10).collect()
    }
    require(top.length == 10 && top.forall(r =>
      r.getLong(1) % 100 == 0 && r.getLong(2) == 3L),
      s"bm25 plant invariant broke: ${top.map(r => (r.getLong(1), r.getLong(2))).toSeq}")

    val ((nFlagged, totalHits), blockSec) = timed {
      val st = TextAnalysis.blocklistStats(docs, "doc_id", "text",
        Seq("blockedtok"), maxHits = 0)
        .agg(sum(when(col("flagged"), 1L).otherwise(0L)), sum("total_hits")).head()
      (st.getLong(0), st.getLong(1))
    }
    val expectFlagged = (nDocs + 9) / 10
    require(nFlagged == expectFlagged && totalHits == expectFlagged,
      s"blocklist invariant broke: flagged=$nFlagged hits=$totalHits expected $expectFlagged")

    val (removedFirst, runSec) = timed {
      TextAnalysis.dedupTokenRuns(docs, "doc_id", "text")
        .agg(sum("n_removed")).head().getLong(0)
    }
    require(removedFirst >= 2L * nDocs,
      s"run-dedup floor broke: removed $removedFirst < ${2L * nDocs}")
    // idempotence: the rewrite has no adjacent duplicates left
    val removedSecond = TextAnalysis.dedupTokenRuns(
      TextAnalysis.dedupTokenRuns(docs, "doc_id", "text")
        .select(col("doc_id"), col("text_dedup").as("text")),
      "doc_id", "text")
      .agg(sum("n_removed")).head().getLong(0)
    require(removedSecond == 0L,
      s"run-dedup idempotence broke: second pass removed $removedSecond")

    // SNM blocking under PLANTED KEY SKEW: every key shares the single
    // 1-char prefix 'Z' — with blockLen=1 that is ONE block of nDocs rows,
    // the natural-skew worst case that would sort in ONE task under a
    // per-block window. The range-partitioned form must (a) return the
    // exact closed-form pair count for a single block — n·w − w(w+1)/2 —
    // and (b) keep every task bounded at ~n/p rows (measured, not assumed).
    val snmW = 3
    val snmKeyed = docs.select(
      col("doc_id"), format_string("Z%07d", col("doc_id")).as("k"))
    val (snmPairs, snmSec) = timed {
      Dedup.sortedNeighborhoodPairs(snmKeyed, "doc_id", "k", window = snmW, blockLen = 1).count()
    }
    // balance probe runs AFTER the timed join (its own range exchange —
    // before, it would donate warm page cache to the timed region); it
    // re-samples split bounds independently, which is fine: the claim is
    // that range partitioning bounds ANY such layout, not one lucky draw
    val snmMaxTask = Dedup.snmSorted(snmKeyed, "doc_id", "k", blockLen = 1)
      .groupBy(spark_partition_id()).count()
      .agg(max("count")).head().getLong(0)
    val snmParts = spark.sparkContext.defaultParallelism
    require(snmMaxTask <= 4L * (nDocs / snmParts + 1),
      s"SNM range partitioning is unbalanced: max task $snmMaxTask rows " +
        s"vs ~${nDocs / snmParts} expected")
    val expectSnm =
      if (nDocs > snmW) nDocs * snmW - snmW.toLong * (snmW + 1) / 2
      else nDocs * (nDocs - 1) / 2
    require(snmPairs == expectSnm,
      s"SNM invariant broke: got $snmPairs, closed form says $expectSnm")
    def kernel(sec: Double, invariant: String) =
      f"$sec%.1f s, ${nDocs / sec}%.0f docs/s — $invariant"
    StageResult(
      s"(${nDocs / 1000}k docs, planted closed-form invariants)",
      """the three scan-side curation kernels at corpus scale: every 100th
        |doc plants the BM25 query term ×3 (disjoint vocabulary — nothing
        |else can contain it), every 10th doc a blocklist token, every doc
        |a 3-token repeat run.""".stripMargin,
      Seq(
        "BM25 top-10 (1 term)" -> kernel(bm25Sec, "all 10 hits planted docs at tf=3 ✓"),
        "blocklist stats + flag" -> kernel(blockSec, s"flagged = hits = $nFlagged = n/10 EXACT"),
        "duplicate-run rewrite" ->
          kernel(runSec, s"removed $removedFirst ≥ 2n; 2nd pass removes 0 (idempotent)"),
        s"SNM blocking (w=$snmW, ONE planted-skew block)" ->
          kernel(snmSec, s"$snmPairs pairs = n·w − w(w+1)/2 EXACT; max task $snmMaxTask rows ≈ n/$snmParts (range-bounded)")),
      """- all three are shuffle-free on the corpus (PlanSpec-gated): BM25's
        |  only exchanges are the 1-row stats broadcast and the TakeOrdered
        |  reduction — the corpus itself is read once, scan-side""".stripMargin)
  }

  /** [[graft.operators.Dedup.repeatedSpans]] at corpus scale: 50-token
    * docs of near-unique hash tokens (any chance 4-gram repeat is
    * ~n²/V⁴ ≈ 0), every 10th doc carrying one planted 4-token boilerplate
    * span at a varying position. The invariant is closed-form: the
    * planted span is the ONLY repeated 4-gram, its boundary grams are
    * unique, so n_rep_starts = planted docs exactly and covered_tokens =
    * 4 per planted doc, 0 elsewhere. Runs the production xxhash64-keyed
    * gram shuffle (the 100 TB default; the d19 gate covers string
    * parity). */
  val spans: Stage = Stage("spans", "## Repeated-span (substring) dedup stage",
      Seq("nDocs" -> 1000000L), tiny = "2000") { (spark, p, base) =>
    val nDocs = p.long("nDocs")
    val (_, genSec) = timed {
      spark.range(nDocs).toDF("doc_id")
        .withColumn("noise",
          transform(sequence(lit(1), lit(46)),
            j => concat(lit("w"), pmod(xxhash64(col("doc_id"), j), lit(100000000000L)))))
        .withColumn("pos", pmod(xxhash64(col("doc_id"), lit(-7)), lit(46L)).cast("int"))
        .withColumn("text",
          when(col("doc_id") % 10 === 0,
            array_join(concat(
              slice(col("noise"), lit(1), col("pos")),
              array(lit("boiler"), lit("plate"), lit("span"), lit("here")),
              slice(col("noise"), col("pos") + 1, lit(46) - col("pos"))), " "))
            .otherwise(array_join(col("noise"), " ")))
        .select("doc_id", "text")
        .write.mode("overwrite").parquet(s"$base/docs")
    }
    val docs = spark.read.parquet(s"$base/docs")
    val planted = (nDocs + 9) / 10
    val (agg, spanSec) = timed {
      Dedup.repeatedSpans(docs, "doc_id", "text", w = 4)
        .agg(sum("n_rep_starts").as("starts"), sum("covered_tokens").as("cov"),
          count(lit(1)).as("rows"))
        .head()
    }
    require(agg.getLong(2) == nDocs, s"row count broke: ${agg.getLong(2)}")
    require(agg.getLong(0) == planted,
      s"repeated starts broke: ${agg.getLong(0)} vs planted $planted")
    require(agg.getLong(1) == 4 * planted,
      s"covered tokens broke: ${agg.getLong(1)} vs ${4 * planted}")
    StageResult(
      s"(${nDocs / 1000}k × 50-token docs, planted boilerplate in every 10th)",
      """cross-document repeated 4-gram span removal on the production
        |xxhash64-keyed path: single-pass shingle kernel (posexplode index =
        |start position), map-side-combined gram count, bounded per-doc
        |coverage window; window + rebuild + agg share one id exchange.""".stripMargin,
      Seq(
        "corpus generate + write" -> f"$genSec%.1f s ($nDocs docs)",
        s"repeated-span pass (~${nDocs * 47 / 1000000}M grams)" ->
          f"$spanSec%.1f s (${nDocs / spanSec}%.0f docs/s)",
        "invariants" -> s"starts = $planted, covered = ${4 * planted} — EXACT closed form"),
      """- the planted span is the only repeated 4-gram (46 noise tokens
        |  from a 10¹¹ vocabulary — chance repeats ≈ 0), so coverage is a
        |  closed form over the whole corpus, not a sample""".stripMargin)
  }

  /** [[graft.operators.Dedup.prefixFilterJaccardPairs]] at corpus scale in
    * its INTENDED regime (large vocabulary — real text is Zipf with a huge
    * tail, so each doc's rarest-first prefix indexes near-unique tokens):
    * docs × 50 tokens from a 50M-token vocabulary, every 20th doc a
    * planted near-dup of its successor (token-set J = |S|/(|S|+1) ≈
    * 0.98). At τ = 9/10 the EXACT join must return precisely the planted
    * pairs — a chance pair would need 48-of-50 shared hash tokens
    * (p ≈ (1e-6)⁴⁸, zero) — so the count is a closed form, and
    * completeness + precision are both asserted, not sampled. A hostile
    * phase then plants `nHot` short docs sharing one frequent token (the
    * small-vocab hazard) and checks the salt grid bounds the max task. */
  val ppjoin: Stage = Stage("ppjoin", "## Prefix-filter exact Jaccard join stage",
      Seq("nDocs" -> 1000000L, "nHot" -> 10000L), tiny = "2000 6000") { (spark, p, base) =>
    val (nDocs, nHot) = (p.long("nDocs"), p.long("nHot"))
    val (_, genSec) = timed {
      genDedupCorpus(spark, nDocs, tokensPerDoc = 50, vocabSize = 50000000)
        .write.mode("overwrite").parquet(s"$base/docs")
    }
    val docs = spark.read.parquet(s"$base/docs")
    val (got, joinSec) = timed {
      Dedup.prefixFilterJaccardPairs(docs, "doc_id", "text", 9L, 10L).count()
    }
    // planted pairs = docs with i%20==0 that HAVE a successor (i ≤ n−2):
    // floor((n−2)/20)+1 — plain n/20 under-counts when n%20 ∈ 2..19
    val expected = if (nDocs < 2) 0L else (nDocs - 2) / 20 + 1
    require(got == expected,
      s"ppjoin invariant broke: got $got pairs, planted $expected")
    // the WEIGHTED twin (d20) on the same corpus: planted pairs share
    // 50 of ~51 tokens, cos ≈ 0.995 ≥ 9/10; chance pairs ≈ 0 — the
    // exact weighted join must land on the identical closed form
    val (gotW, wcosSec) = timed {
      Dedup.weightedCosinePairs(docs, "doc_id", "text", 9L, 10L).count()
    }
    require(gotW == expected,
      s"weighted-cosine invariant broke: got $gotW pairs, planted $expected")
    // ---- hostile phase: planted frequent token ----------------------
    // nHot SHORT docs all sharing one token: at tau=1/2 the whole doc is
    // the prefix, so "hot" lands in every prefix and the clean join
    // piles C(nHot,2) candidates into ONE task. The work is inherent
    // (every candidate is length-checked by exactness), but the salt
    // grid spreads it over ceil(cnt/4096)^2 cells. Both paths must
    // return exactly the planted duplicate pairs.
    val nDup = 500L
    spark.range(nHot).toDF("doc_id")
      .withColumn("text", concat(lit("hot u"), col("doc_id")))
      .unionByName(
        spark.range(nDup * 2).toDF("doc_id")
          .withColumn("text",
            concat(lit("da"), floor(col("doc_id") / 2).cast("long"),
              lit(" db"), floor(col("doc_id") / 2).cast("long"),
              lit(" dc"), floor(col("doc_id") / 2).cast("long")))
          .withColumn("doc_id", col("doc_id") + 1000000000L))
      .write.mode("overwrite").parquet(s"$base/hot")
    val hotDocs = spark.read.parquet(s"$base/hot")
    // the candidate GENERATION stage in isolation — the one thing the
    // grid changes; the downstream distinct+verify key on the pair and
    // parallelize identically either way. (cands, maxTask, wall) per path.
    def candStage(ceiling: Int): (Long, Long, Double) = {
      val (cand, toksF, temps) = Dedup.prefixCandidates(hotDocs, "doc_id", "text", 1L, 2L, ceiling)
      val (row, sec) = timed {
        cand.groupBy(spark_partition_id().as("__pid"))
          .agg(count(lit(1)).as("__n"))
          .agg(sum("__n").as("total"), max("__n").as("mx")).head()
      }
      (toksF +: temps).foreach(_.unpersist(blocking = false))
      (row.getLong(0), row.getLong(1), sec)
    }
    // the grid's f² cells spread over the join's tasks only when the
    // shuffle has enough partitions (a cluster has far more than f²):
    // both paths run with at least 4·f², so the measured max task is the
    // grid's and not the session's core count
    val gridF = (nHot + 4095) / 4096
    val parts = math.max(spark.conf.get("spark.sql.shuffle.partitions").toInt, 4 * gridF * gridF)
    val ((candGrid, maxTaskGrid, gridSec), (candClean, maxTaskClean, cleanSec)) =
      withConf(spark, "spark.sql.shuffle.partitions" -> parts.toString) {
        (candStage(4096), candStage(Int.MaxValue))
      }
    require(candGrid == candClean,
      s"grid changed candidate volume: $candGrid vs $candClean")
    require(maxTaskGrid * 4 < maxTaskClean,
      s"grid did not bound the max task: $maxTaskGrid vs clean $maxTaskClean")
    // full pipeline with the default guard: exactly the planted pairs
    val (gotGrid, fullSec) = timed {
      Dedup.prefixFilterJaccardPairs(hotDocs, "doc_id", "text", 1L, 2L).count()
    }
    require(gotGrid == nDup,
      s"hot-token phase broke: got $gotGrid, planted $nDup")
    StageResult(
      s"(${nDocs / 1000}k docs, 50M-token vocabulary, planted J≈0.98 pairs)",
      """the EXACT set-similarity self-join (All-Pairs/PPJoin family) in
        |its intended large-vocabulary regime: rarest-first prefixes index
        |near-unique tokens, so candidates collapse to ~output size.""".stripMargin,
      Seq(
        "corpus generate + write" -> f"$genSec%.1f s ($nDocs docs)",
        "prefix-filter join wall (τ=9/10)" -> f"$joinSec%.1f s (${nDocs / joinSec}%.0f docs/s)",
        "pairs" -> s"$got = planted $expected EXACT (completeness AND precision)",
        "weighted-cosine twin (d20, τ=9/10)" -> f"$wcosSec%.1f s — $gotW = planted $expected EXACT",
        "hostile candidate stage: guard OFF" ->
          f"$cleanSec%.1f s, max task ${maxTaskClean / 1000000}M of ${candClean / 1000000}M rows (the pile-up)",
        s"hostile candidate stage: grid (f=$gridF)" ->
          f"$gridSec%.1f s, max task ${maxTaskGrid / 1000000}M rows (${maxTaskClean.toDouble / maxTaskGrid}%.0f× smaller)",
        "hostile full pipeline (guarded)" -> f"$fullSec%.1f s — $gotGrid = planted $nDup pairs EXACT"),
      s"""- no float decides membership: integer prefix lengths, the
         |  multiplied-through inter·10 ≥ uni·9 verdict
         |- hostile phase: $nHot 2-token docs sharing ONE token at τ=1/2
         |  (whole doc = prefix) piles C($nHot,2) candidates into ONE join
         |  task; the salt grid spreads them over f²=${gridF * gridF} cells —
         |  identical candidate volume (asserted), ~f² smaller max task
         |  (asserted ≥4×). The candidate VOLUME is inherent to exactness
         |  here (same-length docs pass every length filter), so the
         |  downstream distinct+verify dominate the full-pipeline wall
         |  either way — what the grid buys at cluster scale is the
         |  bounded task (straggler/retry/2 GB-partition unit), which is
         |  what is measured. Detection is two-tier (df aggregate, then
         |  exact prefix counts): the clean corpus above never pays it""".stripMargin)
  }

  /** [[graft.operators.FuzzyJoin]] at vocabulary scale: distinct words
    * (8-hex md5 prefixes) with an ED-1 twin planted for every 20th word
    * ('z' substituted into the first position — 'z' is outside the hex
    * alphabet, so a twin can only ED-1-match its own base and other
    * twins). The brute quadratic this rewrite replaces would be 5×10¹¹
    * levenshtein evaluations at 1M words; the signature join is linear in
    * words × (len+1). Completeness is asserted, not assumed: every planted
    * pair must appear in the output (anti-join = 0). */
  val fuzzy: Stage = Stage("fuzzy", "## Fuzzy-join corpus stage",
      Seq("nWords" -> 1000000L), tiny = "2000") { (spark, p, _) =>
    val nWords = p.long("nWords")
    val baseWord = expr("substr(md5(cast(id as string)), 1, 8)")
    val twinOfPrev = concat(lit("z"),
      expr("substr(md5(cast(id - 1 as string)), 2, 7)"))
    val words = spark.range(nWords)
      .select(when(pmod(col("id"), lit(20)) === 1, twinOfPrev)
        .otherwise(baseWord).as("w"))
      .distinct()
    val (pairs, wallSec) = timed {
      val out = graft.operators.FuzzyJoin.editDistance1Pairs(words, "w").persist()
      out.count()
      out
    }
    val found = pairs.count()
    // planted pairs: (base(id-1), twin) for id % 20 == 1, ordered w1 < w2
    // ('z' > every hex char, so the twin is always w2)
    val planted = spark.range(nWords).filter(pmod(col("id"), lit(20)) === 1)
      .select(expr("substr(md5(cast(id - 1 as string)), 1, 8)").as("w1"),
        twinOfPrev.as("w2"))
    val nPlanted = planted.count()
    val missing = planted.join(pairs, Seq("w1", "w2"), "left_anti").count()
    require(missing == 0L, s"$missing of $nPlanted planted ED-1 pairs missed")
    pairs.unpersist(blocking = false)
    StageResult(
      s"(ED≤1 deletion-neighborhood self-join over ${nWords / 1000}k words)",
      """8-hex-char vocabulary with an ED-1 twin planted on every 20th
        |word; signature equi-join + codegen levenshtein verify
        |(the t37 operator). Completeness asserted: planted ⊆ found.""".stripMargin,
      Seq(
        "words" -> s"$nWords (distinct)",
        "wall (build + join + verify + count)" -> f"$wallSec%.1f s (${nWords / wallSec}%.0f words/s)",
        "planted ED-1 pairs" -> s"$nPlanted — ALL found (anti-join = 0)",
        "pairs found total" -> found,
        "brute-force equivalent" ->
          s"~${nWords * nWords / 2 / 1000000000L}×10⁹ levenshtein evals — the plan this rewrite deletes"),
      """- per-signature fan-out is alphabet-bounded (a signature only
        |  matches the ~\|Σ\|·(L+1) words within one edit), so the join has
        |  no hot-bucket hazard and needs no chain guard — unlike MinHash
        |  band buckets, bucket size cannot scale with corpus size
        |- the extra pairs beyond the planted set are REAL: 8-hex md5
        |  prefixes of a 1M vocabulary collide to within one edit by
        |  birthday statistics, and the exact levenshtein verify admits
        |  exactly those""".stripMargin)
  }

  /** The same near-dup pair detection task run by OUR pipeline
    * (single-pass MinHash kernel → banded LSH candidates → exact-Jaccard
    * verify) and by stock Spark MLlib (HashingTF →
    * MinHashLSH.approxSimilarityJoin), identical hash budget (8 hashes),
    * planted-pair recall as the shared correctness metric; then ANN
    * serving: our batched IVF-SQ8 probe vs MLlib's per-query
    * BucketedRandomProjectionLSH. The point is not to dunk on MLlib — it
    * is the matches-or-beats evidence the library claims against the
    * obvious in-ecosystem alternative. */
  val mllib: Stage = Stage("mllib", "## Stock-MLlib head-to-head stage",
      Seq("nDocs" -> 200000L), tiny = "1000") { (spark, p, base) =>
    val nDocs = p.long("nDocs")
    genDedupCorpus(spark, nDocs).write.mode("overwrite").parquet(s"$base/docs")
    val docs = spark.read.parquet(s"$base/docs")
    val planted = nDocs / 20
    def plantedRecall(pairs: DataFrame): Long =
      pairs.filter(
        (col("d1") % 20 === 0 && col("d2") === col("d1") + 1) ||
          (col("d2") % 20 === 0 && col("d1") === col("d2") + 1)).count()

    // ours: LSH candidates -> exact-Jaccard verify (threshold 0.8)
    val ((ourPairs, ourFound), ourSec) = timed {
      val cands = Dedup.minhashCandidatePairs(
        docs, "doc_id", "text", numHashes = 8, rowsPerBand = 4, shingleWidth = 3)
      val verified = Dedup.jaccardForPairs(cands, docs, "doc_id", "text", 3)
        .filter(col("jaccard") >= 0.8).persist()
      val n = verified.count()
      val found = plantedRecall(verified)
      cands.unpersist(blocking = false)
      verified.unpersist(blocking = false)
      (n, found)
    }

    // stock MLlib: HashingTF (binary) -> MinHashLSH(8) -> approxSimilarityJoin
    val ((mlPairs, mlFound), mlSec) = timed {
      import org.apache.spark.ml.feature.{HashingTF, MinHashLSH, Tokenizer}
      val toks = new Tokenizer().setInputCol("text").setOutputCol("words")
        .transform(docs)
      val tf = new HashingTF().setInputCol("words").setOutputCol("features")
        .setBinary(true).setNumFeatures(1 << 18)
        .transform(toks)
      val mh = new MinHashLSH().setInputCol("features").setOutputCol("hashes")
        .setNumHashTables(8).setSeed(42L)
      val model = mh.fit(tf)
      // jaccard DISTANCE <= 0.2 == similarity >= 0.8 (token-set jaccard
      // on the hashed binary vectors — MLlib's exact-distance refine)
      val joined = model.approxSimilarityJoin(tf, tf, 0.2, "dist")
        .select(
          col("datasetA.doc_id").as("d1"), col("datasetB.doc_id").as("d2"))
        .filter(col("d1") < col("d2"))
        .persist()
      val n = joined.count()
      val found = plantedRecall(joined)
      joined.unpersist(blocking = false)
      (n, found)
    }
    // --- ANN serving head-to-head: 20 queries over the same-size vector
    // corpus — our manifest-backed batched IVF-SQ8 probe vs MLlib's
    // per-query BucketedRandomProjectionLSH.approxNearestNeighbors
    // (euclidean ≈ cosine ranking on unit-normalized vectors). Recall
    // measured against the brute-force cosine top-10.
    val nVecs = nDocs
    val emb = genClusteredEmbCorpus(spark, nVecs, nClusters0 = 64)
      .withColumn("embedding",
        transform(col("embedding"), x =>
          (x / sqrt(aggregate(col("embedding"), lit(0.0d),
            (a, b) => a + b.cast("double") * b.cast("double")))).cast("float")))
      .persist()
    emb.count()
    val queries = (0L until 20L).map { qid =>
      (qid, emb.filter(col("vec_id") === qid)
        .select("embedding").head().getSeq[Float](0).toArray)
    }
    val brute = queries.map { case (qid, q) =>
      qid -> Similarity.bruteForceTopK(
        emb.filter(col("vec_id") =!= qid), "vec_id", "embedding", q.toSeq, 10)
        .collect().map(_.getLong(0)).toSet
    }.toMap
    val (cents, ourBuildSec) = timed {
      val c = Similarity.kmeansCentroids(
        emb, "embedding", k = 64, iters = 5, seed = 42L, sampleN = 4000)
      Similarity.writeIvfIndex(emb, "embedding", c, s"$base/idx", withSq8Codes = true)
      c
    }
    val (annOur, ourAnnSec) = timed {
      Similarity.ivfSq8TopKJoinIndexed(
        spark, s"$base/idx", "vec_id", "embedding",
        queries, k = 10, cents, nProbe = 8, excludeSelf = true)
        .collect().groupBy(_.getLong(0))
        .map { case (qid, rows) => qid -> rows.map(_.getLong(1)).toSet }
    }
    val ourAnnRecall = queries.map { case (qid, _) =>
      annOur.getOrElse(qid, Set.empty[Long]).intersect(brute(qid)).size }.sum / 200.0
    import org.apache.spark.ml.feature.BucketedRandomProjectionLSH
    import org.apache.spark.ml.linalg.Vectors
    val toVec = udf((xs: Seq[Float]) => Vectors.dense(xs.map(_.toDouble).toArray))
    val vecDf = emb.select(col("vec_id"), toVec(col("embedding")).as("features"))
      .persist()
    val (model, mlBuildSec) = timed {
      vecDf.count()
      new BucketedRandomProjectionLSH()
        .setInputCol("features").setOutputCol("hashes")
        .setBucketLength(0.5).setNumHashTables(8).setSeed(42L)
        .fit(vecDf)
    }
    val (annMl, mlAnnSec) = timed {
      queries.map { case (qid, q) =>
        qid -> model.approxNearestNeighbors(
          vecDf.filter(col("vec_id") =!= qid),
          Vectors.dense(q.map(_.toDouble)), 10)
          .select("vec_id").collect().map(_.getLong(0)).toSet
      }.toMap
    }
    vecDf.unpersist(blocking = false)
    val mlAnnRecall = queries.map { case (qid, _) =>
      annMl.getOrElse(qid, Set.empty[Long]).intersect(brute(qid)).size }.sum / 200.0
    emb.unpersist(blocking = false)
    def pairRow(sec: Double, pairs: Long, found: Long) =
      f"$sec%.1f s, $pairs verified pairs, planted recall $found / $planted (${found.toDouble / planted}%.3f)"
    def annRow(build: Double, serve: Double, recall: Double) =
      f"build $build%.1f s, serve 20 queries $serve%.1f s (${serve / 20}%.3f s/query), recall@10 $recall%.3f"
    StageResult(
      s"(near-dup pair detection, ${nDocs / 1000}k docs, 8 hashes each)",
      s"""identical task, identical hash budget: our MinHash-kernel → banded
         |LSH → exact-Jaccard-verify pipeline vs stock Spark MLlib's
         |HashingTF → MinHashLSH.approxSimilarityJoin at the same 0.8
         |Jaccard threshold, planted-pair recall as shared ground truth;
         |then ANN serving over the same ${nVecs / 1000}k-vector
         |unit-normalized clustered corpus, 20 queries, recall@10 vs the
         |brute-force cosine top-10.""".stripMargin,
      Seq(
        "graft (kernel LSH + verify)" -> pairRow(ourSec, ourPairs, ourFound),
        "Spark MLlib approxSimilarityJoin" -> pairRow(mlSec, mlPairs, mlFound),
        "graft IVF-SQ8 batched probe (one job, all 20)" -> annRow(ourBuildSec, ourAnnSec, ourAnnRecall),
        "MLlib BRP-LSH approxNearestNeighbors (per query)" -> annRow(mlBuildSec, mlAnnSec, mlAnnRecall)),
      """- build-vs-serve is the honest split: the IVF index pays a one-time
        |  materialization (amortized over every later query and maintained
        |  incrementally — appendToIvfIndex) to make each probe read
        |  nProbe/lists of 1-byte codes; MLlib's model is cheap to fit but
        |  every query re-scans hashed vectors — and its per-query cost
        |  GROWS with the corpus while the probe's shrinks relatively (see
        |  the 1M-vector ANN stage: probes beat even the brute scan there)
        |- corpora and plants identical for both""".stripMargin)
  }

  /** The measured case for the codegen expression kernels: the SAME
    * per-row byte-level function run three ways over the corpus — (a) as
    * the custom Catalyst expression (inside WholeStageCodegen, no
    * conversion), (b) behind a Scala UDF boundary (identical kernel bytes,
    * but every row pays internal→external→internal conversion and breaks
    * the codegen span), and for simhash (c) the pre-kernel relational
    * construction (explode 64 bit-rows per token). Median of 3 after
    * warmup. */
  val kernels: Stage = Stage("kernels", "## Kernel-vs-UDF microbench stage",
      Seq("nDocs" -> 1000000L), tiny = "2000") { (spark, p, base) =>
    import graft.operators.{Md5MinHashUtil, Md5SimHashUtil, MinHash, MinHashUtil, Shingles, WinnowUtil}
    import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
    import org.apache.spark.unsafe.types.UTF8String
    val nDocs = p.long("nDocs")
    genDedupCorpus(spark, nDocs).write.mode("overwrite").parquet(s"$base/docs")
    val docs = spark.read.parquet(s"$base/docs")
    def toks = Dedup.tokenSet(col("text"))
    def median3(f: => Unit): Double = medianPair(f, ())._1
    // identical kernel bytes behind a UDF boundary: Seq[String] →
    // ArrayData conversion in, external value out — the cost under test
    def arr(ts: Seq[String]) = new GenericArrayData(ts.map(UTF8String.fromString).toArray)
    def strings(ad: ArrayData): Seq[String] =
      (0 until ad.numElements()).map(i => String.valueOf(ad.getUTF8String(i)))
    val simhashUdf = udf((ts: Seq[String]) => Md5SimHashUtil.simhashHex(arr(ts)).toString)
    val minhashUdf = udf((ts: Seq[String]) => strings(Md5MinHashUtil.signature(arr(ts), 8)))
    val winnowUdf = udf((t: String) =>
      strings(WinnowUtil.winnowMd5(UTF8String.fromString(t), 5, 4)))
    val (simKernel, simUdf) = medianPair(
      force(docs.select(Similarity.md5SimhashHex(toks).as("h"))),
      force(docs.select(simhashUdf(toks).as("h"))))
    val simRelational = median3(force(Similarity.simhashMd5Parity(docs, "doc_id", toks)))
    val (mhKernel, mhUdf) = medianPair(
      force(docs.select(MinHash.md5Signature(toks, 8).as("sig"))),
      force(docs.select(minhashUdf(toks).as("sig"))))
    val (wKernel, wUdf) = medianPair(
      force(docs.select(Shingles.winnow(col("text"), 5, 4).as("fp"))),
      force(docs.select(winnowUdf(col("text")).as("fp"))))
    // the CHEAP kernel (seeded xxhash64 — no MessageDigest): per-row work
    // is small enough that the UDF's conversion boundary is visible
    val xxUdf = udf((ts: Seq[String]) => MinHashUtil.signature(arr(ts), 8).toLongArray())
    val (xxKernel, xxUdfS) = medianPair(
      force(docs.select(MinHash.signature(toks, 8).as("sig"))),
      force(docs.select(xxUdf(toks).as("sig"))))
    def row(kernel: Double, other: Double, label: String) =
      f"expression $kernel%.1f s, $label $other%.1f s — ${other / kernel}%.1fx slowdown"
    StageResult(
      s"(same kernel bytes, three execution shapes, ${nDocs / 1000}k docs)",
      """each custom expression vs a Scala UDF wrapping the IDENTICAL
        |per-row function, and (simhash) vs the pre-kernel relational
        |construction. Runs INTERLEAVED A,B,A,B,A,B after a joint warmup
        |so shared-JIT heat can't bias the second variant; median of 3,
        |noop-sink forced.""".stripMargin,
      Seq(
        "md5 simhash" -> row(simKernel, simUdf, "UDF"),
        "md5 simhash (relational)" -> row(simKernel, simRelational, "relational explode"),
        "md5 minhash k=8" -> row(mhKernel, mhUdf, "UDF"),
        "winnow k=5 w=4" -> row(wKernel, wUdf, "UDF"),
        "xxhash minhash k=8" -> row(xxKernel, xxUdfS, "UDF")),
      """- the honest reading: where the kernel is MessageDigest-dominated
        |  (md5 families: ~400 digests/row) the UDF boundary is noise —
        |  the order-of-magnitude win is the SINGLE-PASS design vs the
        |  composed/relational form (k interpreted lambda passes or a
        |  64-rows-per-token explode), which is what the kernels replaced
        |- for the cheap seeded-xxhash kernel the conversion boundary
        |  itself is the measurable cost — the case codegen expressions
        |  exist for""".stripMargin)
  }

  /** The d22 versioning identity measured at corpus scale: v1 = nDocs
    * docs, v2 = v1 with 1% changed, 1% removed, 1% added. The previous
    * run's per-doc verdicts (quality gate → classifier, the funnel's
    * expensive per-doc half) are materialized as the cached artifact; the
    * INCREMENTAL re-run then pays one hash-diff scan
    * ([[graft.operators.Dedup.corpusDiff]], 1 md5/doc) plus the full
    * per-doc stack on the ~2% added ∪ changed only, while the FULL re-run
    * pays the per-doc stack (strip + tokenize + quality stats + 20
    * classifier md5s per doc) on everything. Asserted: the two survivor
    * sets are EXACTLY equal (symmetric difference empty — the d22
    * identity), and the fresh path processed only the added ∪ changed
    * rows; the same identity for the near-dup (d23) arm and for the
    * bucketed live cache. The walls are the measurement: this is what
    * makes re-curating a 100 TB corpus after a 1% delta affordable. */
  val incremental: Stage = Stage("incremental",
      "## Incremental corpus re-processing stage (the d22 identity at 1M docs)",
      Seq("nDocs" -> 1000000L), tiny = "1000") { (spark, p, dir) =>
    import graft.operators.IncrementalCurate
    val nDocs = p.long("nDocs")
    // 20 8-hex md5 tokens per doc: passes the quality gate (180 chars,
    // mean token len 8, zero punct), classifier-nontrivial
    def docText(idc: Column, salt: String): Column =
      concat_ws(" ", (1 to 20).map(i =>
        substring(md5(concat(lit(s"$i#"), idc.cast("string"), lit(s"#$salt"))), 1, 8)): _*)
    val (_, genSec) = timed {
      spark.range(nDocs).toDF("id")
        .withColumn("text", docText(col("id"), "a"))
        .write.mode("overwrite").parquet(s"$dir/v1")
      // v2: drop id%100==2, rewrite id%100==1, append nDocs/100 new ids —
      // every 2nd appended doc an EXACT COPY of an existing v1 text, so
      // the near-dup arm below faces real cross-snapshot duplicate pairs
      // arriving through the ADDED path (and the funnel arm faces n=2
      // exact-dup groups)
      spark.range(nDocs).toDF("id")
        .filter(pmod(col("id"), lit(100L)) =!= 2L)
        .withColumn("text",
          when(pmod(col("id"), lit(100L)) === 1L, docText(col("id"), "b"))
            .otherwise(docText(col("id"), "a")))
        .unionByName(
          spark.range(nDocs, nDocs + nDocs / 100).toDF("id")
            .withColumn("text",
              when(pmod(col("id"), lit(2L)) === 1L,
                docText(col("id") - nDocs, "a"))
                .otherwise(docText(col("id"), "a"))))
        .write.mode("overwrite").parquet(s"$dir/v2")
    }
    val v1 = spark.read.parquet(s"$dir/v1")
    val v2 = spark.read.parquet(s"$dir/v2")
    // the funnel's per-doc half and the global reduction are the
    // PRODUCTION operator ([[IncrementalCurate]], d22's construction,
    // CLI `corpus incremental`)
    def perDoc(df: DataFrame): DataFrame = IncrementalCurate.perDocVerdicts(df, "id", "text")
    def dedupStage(sv: DataFrame): DataFrame = IncrementalCurate.dedupGroups(sv, "id")
    // rows of `a` and `b` that do not pair up on `keys` (0 = same set)
    def mismatched(a: DataFrame, b: DataFrame, keys: String*): Long =
      a.unionByName(b).groupBy(keys.map(col): _*).agg(count(lit(1)).as("c"))
        .filter(col("c") =!= 2).count()
    // the previous run's artifact — on disk, like a real pipeline's
    val (_, cacheSec) = timed {
      perDoc(v1).write.mode("overwrite").parquet(s"$dir/v1_done")
    }
    val v1Done = spark.read.parquet(s"$dir/v1_done")
    // FULL re-run over v2
    val ((fullOut, nFull), fullSec) = timed {
      val o = dedupStage(perDoc(v2)).persist()
      (o, o.count())
    }
    // INCREMENTAL: hash-diff, carry `same`, per-doc stack on added ∪
    // changed only, rerun the cheap global reduction
    val ((incrOut, nIncr, nFresh), incrSec) = timed {
      val diff = Dedup.corpusDiff(v1, v2, "id", "text").persist()
      val carried = v1Done.join(
        diff.filter(col("status") === "same").select("id"), Seq("id"), "left_semi")
      val freshIn = v2.join(
        diff.filter(col("status").isin("added", "changed")).select("id"),
        Seq("id"), "left_semi").persist()
      val nf = freshIn.count()
      val o = dedupStage(carried.unionByName(perDoc(freshIn))).persist()
      val c = o.count()
      diff.unpersist(blocking = false)
      freshIn.unpersist(blocking = false)
      (o, c, nf)
    }
    // the identity, asserted exactly
    val mismatches = mismatched(fullOut, incrOut, "h", "keep_id", "n")
    require(mismatches == 0L,
      s"incremental diverged from full recompute on $mismatches rows")
    require(nFull == nIncr)
    val expectedFresh = (nDocs / 100) * 2 // 1% changed + 1% added
    require(nFresh == expectedFresh,
      s"fresh path processed $nFresh rows, expected $expectedFresh")
    incrOut.unpersist(blocking = false)

    // ---- NEAR-DUP ARM (d23): the identity extended to the LSH stage ----
    // REAL document length: the funnel corpora's 20-token docs make the
    // codegen signature kernel nearly free, hiding exactly the cost the
    // incremental carry exists to skip. Inflate to ~400 tokens (the
    // 20-token block repeated 20×) by repeating the id-salted token block
    // (no extra md5 work in the generator; the signature pass still walks
    // every token/shingle, which is the production cost profile of
    // KB-scale documents)
    val (_, ndGenSec) = timed {
      Seq(v1 -> "v1n", v2 -> "v2n").foreach { case (v, name) =>
        v.select(col("id"), rtrim(repeat(concat(col("text"), lit(" ")), 20)).as("text"))
          .write.mode("overwrite").parquet(s"$dir/$name")
      }
    }
    val v1n = spark.read.parquet(s"$dir/v1n")
    val v2n = spark.read.parquet(s"$dir/v2n")
    // the previous run's cached assets: (id, band, bh) rows + pairs —
    // and the snapshot diff, materialized ONCE for ALL incremental
    // stages (the funnel and the near-dup stage consume the same diff
    // in a real pipeline; its cost is charged here, separately)
    val (_, bandCacheSec) = timed {
      Dedup.minhashBandRows(v1n, "id", "text",
        numHashes = 8, rowsPerBand = 4, shingleWidth = 3)
        .write.mode("overwrite").parquet(s"$dir/v1_bands")
    }
    val v1Bands = spark.read.parquet(s"$dir/v1_bands")
    Dedup.pairsFromBandRows(v1Bands)
      .write.mode("overwrite").parquet(s"$dir/v1_pairs")
    val v1Pairs = spark.read.parquet(s"$dir/v1_pairs")
    val (_, ndDiffSec) = timed {
      Dedup.corpusDiff(v1n, v2n, "id", "text")
        .write.mode("overwrite").parquet(s"$dir/ndiff")
      // the delta WITH its texts — in production this frame arrives from
      // ingest (the delta rows), it is never re-extracted from the at-rest
      // corpus; materializing it here charges that setup honestly to the
      // shared-assets step
      spark.read.parquet(s"$dir/ndiff")
        .filter(col("status").isin("added", "changed"))
        .join(v2n, Seq("id"), "left").select("id", "text")
        .write.mode("overwrite").parquet(s"$dir/ndelta")
    }
    val ((ndFull, nNdFull), ndFullSec) = timed {
      val p = Dedup.pairsFromBandRows(
        Dedup.minhashBandRows(v2n, "id", "text",
          numHashes = 8, rowsPerBand = 4, shingleWidth = 3)).persist()
      (p, p.count())
    }
    val ((ndBands, ndIncr, nNdIncr), ndIncrSec) = timed {
      val (nb, p) = IncrementalCurate.incrementalNearDupPairs(
        v1n, v2n, v1Bands, v1Pairs, "id", "text",
        numHashes = 8, rowsPerBand = 4, shingleWidth = 3,
        diffOpt = Some(spark.read.parquet(s"$dir/ndiff")),
        deltaDocsOpt = Some(spark.read.parquet(s"$dir/ndelta")))
      (nb, p, p.count())
    }
    val ndMismatch = mismatched(ndFull, ndIncr, "d1", "d2")
    require(ndMismatch == 0L,
      s"incremental near-dup diverged from full recompute on $ndMismatch pairs")
    // closed-form pair census: the ONLY near-dup pairs in v2 are the
    // planted copies (source m, copy nDocs+m) for odd m whose source
    // text survived unchanged (m % 100 == 1 was rewritten) — every
    // other text is a distinct md5 stream
    val expectedPlanted = spark.range(nDocs, nDocs + nDocs / 100).toDF("id")
      .filter(pmod(col("id"), lit(2L)) === 1L &&
        pmod(col("id") - nDocs, lit(100L)) =!= 1L &&
        pmod(col("id") - nDocs, lit(100L)) =!= 2L)
      .count()
    require(nNdFull == expectedPlanted && nNdIncr == expectedPlanted,
      s"near-dup pair census: full=$nNdFull incr=$nNdIncr expected=$expectedPlanted")
    ndFull.unpersist(blocking = false)
    ndIncr.unpersist(blocking = false)
    ndBands.unpersist(blocking = false)

    // ---- BUCKETED LIVE CACHE ARM: write volume ∝ delta ----
    // the versioned cache rewrites EVERYTHING every micro-batch; the
    // bucketed live cache rewrites only delta-touched buckets — measure
    // actual bytes written over a drain of the full delta
    val nBuckets = 8192
    val cacheDir = s"$dir/bucketed"
    val (_, seedSec) = timed {
      IncrementalCurate.seedBucketedCache(cacheDir, v1Done, "id", nBuckets)
    }
    def liveBytes(newerThan: Long): Long = {
      val root = java.nio.file.Paths.get(s"$cacheDir/live")
      val s = java.nio.file.Files.walk(root)
      try s.filter(p => java.nio.file.Files.isRegularFile(p) &&
          p.getFileName.toString.endsWith(".parquet") &&
          java.nio.file.Files.getLastModifiedTime(p).toMillis > newerThan)
        .mapToLong(p => java.nio.file.Files.size(p)).sum()
      finally s.close()
    }
    val cacheBytes = liveBytes(0L)
    // delta statuses materialized ONCE (each batch application reads the
    // batch several times; re-deriving the diff per use would re-scan
    // both corpora)
    Dedup.corpusDiff(v1, v2, "id", "text")
      .filter(col("status") =!= "same")
      .join(v2, Seq("id"), "left")
      .write.mode("overwrite").parquet(s"$dir/delta")
    val delta = spark.read.parquet(s"$dir/delta")
    // apply the FULL delta as one batch (a bulk catch-up — touches most
    // buckets, recorded honestly), then REPLAY a micro-batch-sized
    // 500-id slice of the already-applied delta: the replay measures
    // BOTH claims at once — write volume ∝ touched buckets (≤ batch
    // ids, a vanishing cache fraction) AND drop-all-then-re-add
    // idempotence at scale (the cache must be unchanged, asserted
    // against the full recompute below)
    val (_, drainSec) = timed {
      IncrementalCurate.applyDeltaBatchBucketed(cacheDir, delta, "id", "text", nBuckets)
    }
    val replayBatch = delta.orderBy(col("id")).limit(500)
    val replayCut = System.currentTimeMillis()
    val (_, replaySec) = timed {
      IncrementalCurate.applyDeltaBatchBucketed(cacheDir, replayBatch, "id", "text", nBuckets)
    }
    val replayBytes = liveBytes(replayCut)
    val ((bOut, nB), bGroupSec) = timed {
      val o = dedupStage(spark.read.parquet(s"$cacheDir/live").select("id", "h")).persist()
      (o, o.count())
    }
    val bMismatch = mismatched(fullOut, bOut, "h", "keep_id", "n")
    require(bMismatch == 0L && nB == nFull,
      s"bucketed drain + replay diverged from full recompute on $bMismatch rows")
    bOut.unpersist(blocking = false)
    fullOut.unpersist(blocking = false)
    StageResult(
      s"(${nDocs / 1000}k docs, 1% changed / 1% removed / 1% added — every 2nd added doc an exact copy of an existing text)",
      """the d22 identity funnel(v2) ≡ carried(v1) − removed + funnel(added ∪
        |changed) at corpus scale, with v1's per-doc verdicts as an on-disk
        |artifact the way a real pipeline would hold them.""".stripMargin,
      Seq(
        "corpora generate + write" -> f"$genSec%.1f s",
        "v1 per-doc funnel (the cached artifact)" -> f"$cacheSec%.1f s",
        "FULL re-run of v2" -> f"$fullSec%.1f s ($nFull survivor groups)",
        "INCREMENTAL re-run" ->
          f"$incrSec%.1f s (${fullSec / incrSec}%.1f× faster; per-doc stack on $nFresh of $nDocs v2 docs)",
        "identity" -> "EXACT — 0 mismatched (h, keep_id, n) rows",
        f"— near-dup arm (d23), ~400-token docs (gen $ndGenSec%.1f s)" -> "",
        "v1 band-row cache / shared diff + delta docs" ->
          f"$bandCacheSec%.1f s / $ndDiffSec%.1f s (the cached LSH asset; the diff and the texts-carrying delta are once-per-snapshot-pair assets every incremental stage consumes — in production the delta arrives from ingest)",
        "FULL LSH re-run of v2 (8 hashes / 2 bands, 3-gram shingles)" -> f"$ndFullSec%.1f s ($nNdFull pairs)",
        "INCREMENTAL near-dup re-run" ->
          f"$ndIncrSec%.1f s (${ndFullSec / ndIncrSec}%.1f× faster; signatures for the 2%% delta only, pairs rebuilt in delta-touched buckets)",
        "near-dup identity + census" ->
          s"EXACT — 0 mismatched pairs; pair set == the $nNdFull planted copies (closed form)",
        s"— bucketed live cache arm: seed ($nBuckets buckets)" ->
          f"$seedSec%.1f s (${cacheBytes / 1024 / 1024} MB cache)",
        "bulk catch-up (full 3% delta, one batch)" -> f"$drainSec%.1f s",
        "500-id micro-batch REPLAY: bytes written" ->
          f"${replayBytes / 1024} KB in $replaySec%.1f s — vs ${cacheBytes / 1024} KB (the versioned cache's per-batch full rewrite): ${cacheBytes / math.max(replayBytes.toDouble, 1.0)}%.1f× less, ∝ touched buckets not cache size",
        "replay idempotence + identity" ->
          f"EXACT — cache unchanged by the replayed slice; 0 mismatched (h, keep_id, n) rows vs full recompute ($nB groups, grouped in $bGroupSec%.1f s)"),
      """- the incremental bound is the hash-diff (1 md5/doc over both
        |  snapshots) — the per-doc stack (strip + tokenize + quality stats +
        |  20 classifier md5s) runs on the 2% delta only; at 100 TB the same
        |  split holds with stored hashes making the diff a metadata join
        |- the near-dup arm carries the SAME bound to the LSH stage: band
        |  rows are pure per-row functions of (id, text), so 98% of the
        |  shingle+MinHash work is a cache read, and the pair join runs
        |  only over buckets containing a delta row
        |- per-micro-batch write volume is ∝ touched buckets (≤ batch ids),
        |  not cache size: at 10^11 docs the bucket count scales with the
        |  corpus and the ratio improves proportionally — a fixed-size
        |  micro-batch rewrites a vanishing fraction of the cache""".stripMargin)
  }

  /** Corpus for the DSIR stage: like [[graft.Scale.genDedupCorpus]] but
    * every 10th doc draws from a NARROW 1k-word vocabulary slice (ids <
    * 1000 of the 5k corpus vocabulary) — the planted "target-like"
    * population the importance weights must surface. */
  def genDsirCorpus(
      spark: SparkSession, nDocs: Long, tokensPerDoc: Int = 50,
      vocabWide: Int = 5000, vocabNarrow: Int = 1000): DataFrame =
    spark.range(nDocs).toDF("doc_id")
      .withColumn("vocab",
        when(col("doc_id") % 10 === 0, lit(vocabNarrow.toLong))
          .otherwise(lit(vocabWide.toLong)))
      .withColumn("text",
        array_join(
          transform(sequence(lit(1), lit(tokensPerDoc)),
            j => concat(lit("w"), pmod(xxhash64(col("doc_id"), j), col("vocab")))),
          " "))
      .select("doc_id", "text")

  /** Importance weighting over a corpus three orders of magnitude above
    * the oracle scale: target = a separate narrow-vocabulary exemplar set,
    * raw corpus with every 10th doc planted target-like. The separation
    * check (mean planted weight > mean background weight) is the
    * end-to-end signal DSIR exists to produce. */
  val dsir: Stage = Stage("dsir", "## DSIR importance-weighting stage",
      Seq("nDocs" -> 1000000L), tiny = "2000") { (spark, p, base) =>
    val nDocs = p.long("nDocs")
    val (_, genSec) = timed {
      genDsirCorpus(spark, nDocs).write.mode("overwrite").parquet(s"$base/raw")
      // the exemplar target: 10k pure narrow-vocab docs, ids disjoint
      genDsirCorpus(spark, 10000L, vocabWide = 1000)
        .write.mode("overwrite").parquet(s"$base/target")
    }
    val raw = spark.read.parquet(s"$base/raw")
    val target = spark.read.parquet(s"$base/target")
    val ((planted, background, scored), scoreSec) = timed {
      val w = graft.operators.Importance.dsirWeights(raw, target, "doc_id", "text").persist()
      val scored = w.count()
      val m = w.groupBy((col("doc_id") % 10 === 0).as("is_planted"))
        .agg(avg("weight").as("mw"))
        .collect().map(r => r.getBoolean(0) -> r.getDouble(1)).toMap
      w.unpersist(blocking = false)
      (m(true), m(false), scored)
    }
    require(planted > background,
      s"planted target-like docs must outweigh background: $planted vs $background")
    StageResult(
      s"(hashed-n-gram importance weights over ${nDocs / 1000}k docs)",
      s"""`Importance.dsirWeights` (4096 buckets) over a ${nDocs / 1000}k-doc corpus
         |with every 10th doc drawn from the target's narrow 1k-word
         |vocabulary; target = a separate 10k-doc exemplar set. The stage
         |asserts the one thing DSIR is for: planted target-like docs
         |carry strictly higher mean weight than the background.""".stripMargin,
      Seq(
        "corpus + target generate + write" -> f"$genSec%.1f s",
        "weight + score wall" -> f"$scoreSec%.1f s (${nDocs / scoreSec}%.0f docs/s, $scored scored)",
        "mean weight, planted target-like" -> f"$planted%.4f",
        "mean weight, background" -> f"$background%.4f (separation ${planted / background}%.2f×)"),
      """- both distribution tables are 4096 rows whatever the corpus size
        |  — they broadcast; the corpus shuffles ONCE (doc-keyed tf with
        |  map-side combine) and the weight fold is bounded per doc""".stripMargin)
  }

  /** Collocation-shaped corpus for the BPE stage: ~48 noise tokens from
    * a 5M-token vocabulary (any noise pair repeats ~once in the whole
    * corpus) plus ONE planted bigram per doc — bigram i ∈ 0..63 planted
    * in (2i+1)/4096 of docs (`floor(sqrt(doc_id % 4096))`), so the pair
    * table's head is 64 symbol-DISJOINT bigrams with DISTINCT descending
    * counts: the collocation-table regime [[graft.operators.BpeTrain
    * .learnMerges]] exists for, where the disjoint-prefix rule accepts a
    * full batch per pass. The insert position varies per doc (hash). */
  def genBpeCorpus(
      spark: SparkSession, nDocs: Long,
      tokensPerDoc: Int = 50, vocabSize: Int = 5000000): DataFrame = {
    val noiseLen = tokensPerDoc - 2
    spark.range(nDocs).toDF("doc_id")
      .withColumn("big", floor(sqrt(pmod(col("doc_id"), lit(4096L)).cast("double"))).cast("int"))
      .withColumn("noise",
        transform(sequence(lit(1), lit(noiseLen)),
          j => concat(lit("w"), pmod(xxhash64(col("doc_id"), j), lit(vocabSize.toLong)))))
      .withColumn("pos", pmod(xxhash64(col("doc_id"), lit(-1)), lit(noiseLen.toLong)).cast("int"))
      .withColumn("text", array_join(
        concat(
          slice(col("noise"), lit(1), col("pos")),
          array(concat(lit("bl"), col("big")), concat(lit("br"), col("big"))),
          slice(col("noise"), col("pos") + 1, lit(noiseLen) - col("pos"))),
        " "))
      .select("doc_id", "text")
  }

  /** The tokenizer-training loop ([[graft.operators.BpeTrain.learnMerges]])
    * over the collocation corpus: each PASS is one pair-count shuffle
    * (explode + map-side-combined count) and one scan-side rewrite folding
    * every batch-accepted merge, the corpus distributed throughout.
    * Correctness: the learned merge table must be IDENTICAL when the
    * corpus is re-partitioned differently (the determinism property the
    * argmax tie-break guarantees), checked on a 3-merge prefix re-run over
    * a 17-way repartition, and the batched trajectory must equal the
    * strictly-sequential one (batch=1) on the same prefix. */
  val bpe: Stage = Stage("bpe", "## BPE merge-learning corpus stage",
      Seq("nDocs" -> 1000000L, "nMerges" -> 8), tiny = "4096 8") { (spark, p, base) =>
    import graft.operators.BpeTrain
    val (nDocs, nMerges) = (p.long("nDocs"), p.int("nMerges"))
    val (_, genSec) = timed {
      genBpeCorpus(spark, nDocs).write.mode("overwrite").parquet(s"$base/corpus")
    }
    val corpus = spark.read.parquet(s"$base/corpus")
    val ((merges, passes), learnSec) = timed {
      BpeTrain.learnMergesStats(corpus, "text", nMerges)
    }
    require(merges.size == nMerges,
      s"expected $nMerges merges, learned ${merges.size}")
    require(merges.size >= 4 * passes,
      s"batching payoff missing: ${merges.size} merges took $passes passes")
    // determinism across partitionings: 3-merge prefix on a 17-way split
    val (rep, repSec) = timed {
      BpeTrain.learnMerges(corpus.repartition(17), "text", 3)
    }
    require(rep == merges.take(3),
      s"merge table depends on partitioning: $rep vs ${merges.take(3)}")
    // batched (want+1 fetch) vs strictly-sequential prefix must agree —
    // the exactness proof exercised at corpus scale, not just in units
    val seqPrefix = BpeTrain.learnMerges(corpus, "text", 3, batch = 1)
    require(rep == seqPrefix,
      s"batched trajectory diverged from sequential: $seqPrefix vs $rep")
    val pairsPerPass = corpus.count() * 49 // ~49 adjacent pairs per 50-token doc
    StageResult(
      s"($nMerges merges over ${nDocs / 1000}k collocation-corpus docs)",
      s"""[[BpeTrain.learnMerges]] on the ${nDocs / 1000}k-doc corpus: per PASS, one
         |pair-count shuffle (~${pairsPerPass / 1000000}M pair rows, map-side-combined count
         |keyed on the pair) and one zero-shuffle scan-side rewrite folding
         |every merge the disjoint-prefix rule accepts; the driver holds
         |only the k-row merge table.""".stripMargin,
      Seq(
        "corpus generate + write" -> f"$genSec%.1f s ($nDocs docs)",
        s"learn $nMerges merges" ->
          f"$learnSec%.1f s in $passes corpus passes (${nMerges.toDouble / passes}%.1f merges/pass, ${learnSec / nMerges}%.1f s/merge)",
        "merge table" -> merges.map(m => s"(${m.left}+${m.right}:${m.count})").mkString(" "),
        "partition-invariance (3-merge prefix, 17-way repartition)" -> f"exact match ($repSec%.1f s)"),
      """- the candidate fetch is a `limit(batch+1)` top-k per pass; the
        |  tie-break (count desc, left, right) is what makes the merge
        |  table a pure function of the corpus, not of its partitioning —
        |  asserted above, not assumed
        |- per-iteration persist/release keeps exactly one tokenized
        |  corpus copy live, the PageRank checkpoint discipline
        |- batching is EXACT, not approximate: per pass the loop accepts
        |  the longest ranked prefix of pairwise symbol-disjoint
        |  candidates whose counts strictly beat the first rejected
        |  candidate — disjointness pins their counts, and any emergent
        |  joined-token pair is bounded by a symbol-sharing pair that
        |  ranks at/below the stop point (proof on the method); the
        |  batched-vs-sequential 3-merge agreement is asserted above
        |- INTENDED REGIME: k in the tens-to-low-hundreds. A 32k
        |  production vocabulary trains on a deterministic hash-SAMPLE
        |  (ranks, not counts, drive the trajectory) and encodes the
        |  full corpus with the one-pass scan-side `applyMerges` (t51's
        |  gated hot path)""".stripMargin)
  }

  /** The m12 pipeline at corpus scale: nImgs closed-form 8×8 RGB images
    * encoded to REAL PNGs, decoded back through javax.imageio, aHash'd
    * from the decoded pixels, and paired by
    * [[graft.operators.Dedup.imageNearDupPairs]] (4×16-bit bands, exact
    * Hamming ≤ 3 — the COMPLETE regime). Every 20th image gets a planted
    * near-identical copy. The HARD invariant is an in-stage FORMULA TWIN:
    * the same aHash computed declaratively from the pixel formulas (no
    * codec anywhere) feeds the same banded join, and the two pair sets
    * must be EXACTLY equal — one codec-corrupted pixel, one hash-kernel
    * drift, or one lost bucket flips it. */
  val imagededup: Stage = Stage("imagededup",
      "## Image near-dup dedup stage (real PNG codec → aHash → banded Hamming join)",
      Seq("nImgs" -> 200000L), tiny = "2000") { (spark, p, base) =>
    import graft.operators.Multimodal
    val nImgs = p.long("nImgs")
    val dim = 8
    val n = lit(dim * dim)
    // base ids [0, nImgs); copies at id+10M of every 20th base image (the
    // m12 construction at the production 8×8 grid — all 64 hash bits
    // informative). xxhash-derived channels: iid-uniform pixels give iid
    // ~Bernoulli(½) hash bits, so 64-bit aHashes are pseudo-random and the
    // ONLY pairs within Hamming 3 are the planted copies (a linear
    // congruential formula here produces massively correlated hashes
    // across ids — measured 866k spurious pairs at 21k images). Copy
    // noise: red +16 on every 4th pixel — ~1–2 expected bit flips, so
    // planted pairs spread over Hamming 0–3 with a tail legitimately past
    // the cutoff.
    def red(idc: Column, i: Column, noisy: Boolean) =
      pmod(xxhash64(lit("r"), idc, i) +
        (if (noisy) when(pmod(i, lit(4)) === 0, lit(16L)).otherwise(lit(0L)) else lit(0L)),
        lit(256))
    def green(idc: Column, i: Column) = pmod(xxhash64(lit("g"), idc, i), lit(256))
    def blue(idc: Column, i: Column) = pmod(xxhash64(lit("b"), idc, i), lit(256))
    def perPixel(f: Column => Column) = transform(sequence(lit(0L), lit((dim * dim - 1).toLong)), f)
    def pxCol(idc: Column, noisy: Boolean) =
      perPixel(i => (red(idc, i, noisy) * 65536L + green(idc, i) * 256L + blue(idc, i)).cast("int"))
    def grayCol(idc: Column, noisy: Boolean) =
      perPixel(i => red(idc, i, noisy) + green(idc, i) + blue(idc, i))
    // base images plus the planted copies; two-step select for the copies:
    // aliasing id+10M as id in the SAME projection would capture the
    // per-pixel col("id") via Spark 4's lateral column alias resolution
    // (the m12 gate hit exactly this)
    def withCopies(cols: Boolean => Seq[Column]): DataFrame =
      spark.range(nImgs).toDF("id").select(col("id") +: cols(false): _*)
        .unionByName(
          spark.range(nImgs).toDF("id").filter(pmod(col("id"), lit(20L)) === 0L)
            .select(col("id") +: cols(true): _*)
            .withColumn("id", col("id") + 10000000L))
    val (_, genSec) = timed {
      withCopies(noisy => Seq(lit(dim).as("w"), lit(dim).as("h"), pxCol(col("id"), noisy).as("px")))
        .write.mode("overwrite").parquet(s"$base/pixels")
    }
    val pixels = spark.read.parquet(s"$base/pixels")
    val nTotal = pixels.count()
    // REAL codec round trip: pixels → PNG bytes → javax.imageio decode →
    // aHash (materialized — at 100 TB the hash column is the at-rest
    // asset, images decode once)
    val (_, hashSec) = timed {
      Multimodal.decodeImageAHashBatched(
        Multimodal.encodePngBatched(pixels, "id", "w", "h", "px"),
        "id", "png")
        .write.mode("overwrite").parquet(s"$base/hashed")
    }
    val hashed = spark.read.parquet(s"$base/hashed")
    val ((pairs, nPairs), pairSec) = timed {
      val p = Dedup.imageNearDupPairs(hashed, "id", "width", "height",
        "ahash", maxHamming = 3, bands = 4)
      (p, p.count())
    }
    // FORMULA TWIN: same hash, no codec — declaratively from the pixel
    // formulas (gray = r+g+b per the closed form; bit_i set when
    // gray_i·N > Σgray), through the SAME banded join
    val (twinPairs, twinSec) = timed {
      val pows = typedlit((0 until dim * dim).map(b => 1L << b))
      def hashOf(g: Column) =
        aggregate(
          zip_with(g, pows,
            (x, p) => when(x * n > aggregate(g, lit(0L), _ + _), p)
              .otherwise(lit(0L))),
          lit(0L), _ + _)
      val formulaHashed = withCopies(noisy =>
        Seq(lit(dim).as("width"), lit(dim).as("height"), hashOf(grayCol(col("id"), noisy)).as("ahash")))
      Dedup.imageNearDupPairs(formulaHashed, "id", "width", "height",
        "ahash", maxHamming = 3, bands = 4)
    }
    val mismatches = pairs.select("d1", "d2", "hamming")
      .unionByName(twinPairs.select("d1", "d2", "hamming"))
      .groupBy("d1", "d2", "hamming").agg(count(lit(1)).as("c"))
      .filter(col("c") =!= 2).count()
    require(mismatches == 0L,
      s"codec-path pairs diverged from the formula twin on $mismatches rows")
    val planted = pairs.filter(col("d2") === col("d1") + 10000000L).count()
    val nCopies = nTotal - nImgs
    pairs.unpersist(blocking = false)
    twinPairs.unpersist(blocking = false)
    StageResult(
      s"(${nImgs / 1000}k 8×8 images + ${nCopies / 1000}k planted near-identical copies)",
      s"""the m12 pipeline at corpus scale: closed-form RGB pixels → REAL
         |PNG encode → real javax.imageio decode → mean-threshold aHash →
         |4×16-bit banded Hamming join, exact ≤ 3 (the COMPLETE regime:
         |pigeonhole guarantees no candidate is missed). The hard gate is
         |the codec-free FORMULA TWIN: the same hashes derived
         |declaratively from the pixel formulas, through the same join —
         |pair sets must agree EXACTLY, so a single corrupted pixel
         |anywhere in $nTotal codec round-trips flips the stage.""".stripMargin,
      Seq(
        "pixel corpora generate + write" -> f"$genSec%.1f s ($nTotal images)",
        "PNG encode → decode → aHash (real codec, materialized)" ->
          f"$hashSec%.1f s (${(nTotal / math.max(hashSec, 1e-9)).toLong} imgs/s)",
        "banded Hamming join (4×16-bit, ≤ 3)" -> f"$pairSec%.1f s ($nPairs pairs)",
        "formula twin (no codec) + equality" ->
          f"$twinSec%.1f s build; EXACT — 0 mismatched (d1, d2, hamming) rows",
        "planted copies found at ≤ 3" ->
          s"$planted of $nCopies (the rest legitimately exceed the cutoff — same count in both paths by the equality)"),
      """- the codec pass is the cost: encode+decode dominates and runs
        |  once, map-side, producing the at-rest (id, w, h, ahash) asset
        |  the join consumes — at 100 TB the 10-byte hash row is what
        |  shuffles, never image bytes""".stripMargin)
  }

  /** The REAL codec path under load: `nAssets` PNGs (deterministic pixel
    * formula → `ImageIO.write`), `nAssets` WAVs (formula PCM → canonical
    * RIFF) and `nAssets/4` animated GIFs are encoded executor-side,
    * written to parquet as opaque binary columns, read back, and decoded
    * through the real codecs (`ImageIO.read` / `AudioSystem`).
    * Correctness is an EXACT equality: the total decoded channel/sample
    * sums must equal the same formulas aggregated directly (no codec),
    * over every asset. */
  val multimodal: Stage = Stage("multimodal", "## Multimodal decode corpus stage",
      Seq("nAssets" -> 200000L), tiny = "200") { (spark, p, base) =>
    import graft.operators.Multimodal
    val nAssets = p.long("nAssets")
    val ids = spark.range(nAssets).toDF("id")
      .repartition(spark.sparkContext.defaultParallelism)
    def orZero(r: org.apache.spark.sql.Row, i: Int) = if (r.isNullAt(i)) 0L else r.getLong(i)

    // ---- images: 8..15 × 6..9 px, packed-RGB formula per pixel ----
    val w = (lit(8) + pmod(col("id"), lit(8))).cast("int")
    val h = (lit(6) + pmod(col("id"), lit(4))).cast("int")
    val px = transform(
      sequence(lit(0L), w.cast("long") * h.cast("long") - 1L),
      i => (pmod(col("id") * 7 + i * 13, lit(256)) * 65536L +
        pmod(col("id") * 11 + i * 5, lit(256)) * 256L +
        pmod(col("id") * 3 + i * 17, lit(256))).cast("int"))
    val pixelFrame = ids.select(col("id"), w.as("w"), h.as("h"), px.as("px"))
    val (_, pngEncSec) = timed {
      Multimodal.encodePngBatched(pixelFrame, "id", "w", "h", "px")
        .write.mode("overwrite").parquet(s"$base/png")
    }
    val ((imgOk, imgBad), pngDecSec) = timed {
      val r = Multimodal.decodeImageStatsBatched(spark.read.parquet(s"$base/png"), "id", "png")
        .agg(
          sum(col("sum_r") + col("sum_g") + col("sum_b")),
          sum(when(col("width").isNull, 1L).otherwise(0L))).head()
      (orZero(r, 0), orZero(r, 1))
    }
    val expectedImg = pixelFrame.select(
      aggregate(col("px"), lit(0L), (acc, p) =>
        acc + shiftright(p, 16).bitwiseAND(lit(255)) +
          shiftright(p, 8).bitwiseAND(lit(255)) + p.bitwiseAND(lit(255)))
        .as("s")).agg(sum("s")).head().getLong(0)
    require(imgBad == 0L && imgOk == expectedImg,
      s"image decode diverged: decoded=$imgOk expected=$expectedImg bad=$imgBad")

    // ---- audio: 100..149-sample mono 16 kHz clips, formula PCM ----
    val n = (lit(100) + pmod(col("id"), lit(50))).cast("int")
    val smp = transform(sequence(lit(0), n - 1),
      i => (pmod(col("id") * 7 + i * 13, lit(2001)) - 1000).cast("int"))
    val sampleFrame = ids.select(col("id"), smp.as("smp"))
    val (_, wavEncSec) = timed {
      Multimodal.encodeWavPcm16Batched(sampleFrame, "id", "smp", 16000, 1)
        .write.mode("overwrite").parquet(s"$base/wav")
    }
    val ((wavSum, wavFrames, wavBad), wavDecSec) = timed {
      val r = Multimodal.decodeWavStatsBatched(spark.read.parquet(s"$base/wav"), "id", "wav")
        .agg(
          sum("sum_samples"), sum("n_frames"),
          sum(when(col("channels").isNull, 1L).otherwise(0L))).head()
      (orZero(r, 0), orZero(r, 1), orZero(r, 2))
    }
    val eRow = sampleFrame.select(
      aggregate(col("smp"), lit(0L), (acc, v) => acc + v).as("s"),
      size(col("smp")).cast("long").as("n"))
      .agg(sum("s"), sum("n")).head()
    val (expectedWavSum, expectedFrames) = (eRow.getLong(0), eRow.getLong(1))
    require(wavBad == 0L && wavSum == expectedWavSum && wavFrames == expectedFrames,
      s"wav decode diverged: sum=$wavSum/$expectedWavSum frames=$wavFrames/$expectedFrames bad=$wavBad")

    // ---- video: nAssets/4 animated GIFs × 4 frames of 16×8 gray ----
    val nVideos = math.max(1L, nAssets / 4)
    val vids = spark.range(nVideos).toDF("id")
      .repartition(spark.sparkContext.defaultParallelism)
    val framesPer = 4
    val (vw, vh) = (16, 8)
    val frames = transform(sequence(lit(0), lit(framesPer - 1)), f =>
      transform(sequence(lit(0L), lit(vw.toLong * vh - 1L)),
        i => pmod(col("id") * 7 + f * 11 + i * 13, lit(256)).cast("int")))
    val videoFrame = vids.select(
      col("id"), lit(vw).as("w"), lit(vh).as("h"), frames.as("frames"))
    val (_, gifEncSec) = timed {
      Multimodal.encodeGifAnimatedBatched(videoFrame, "id", "w", "h", "frames")
        .write.mode("overwrite").parquet(s"$base/gif")
    }
    val ((gifSum, gifFrames, gifBad), gifDecSec) = timed {
      val r = Multimodal.decodeGifFramesBatched(spark.read.parquet(s"$base/gif"), "id", "gif")
        .agg(
          sum("gray_sum"), sum(when(col("frame_idx").isNotNull, 1L).otherwise(0L)),
          sum(when(col("width").isNull, 1L).otherwise(0L))).head()
      (orZero(r, 0), r.getLong(1), r.getLong(2))
    }
    val expectedGif = videoFrame.select(
      aggregate(flatten(col("frames")), lit(0L), (acc, v) => acc + v).as("s"))
      .agg(sum("s")).head().getLong(0)
    require(gifBad == 0L && gifFrames == nVideos * framesPer && gifSum == expectedGif,
      s"gif decode diverged: sum=$gifSum/$expectedGif frames=$gifFrames/${nVideos * framesPer} bad=$gifBad")
    StageResult(
      s"(real ImageIO / AudioSystem codecs, $nAssets assets each)",
      s"""$nAssets formula-pixel PNGs and $nAssets formula-PCM WAVs encoded
         |executor-side (batched mapPartitions), written to parquet as opaque
         |binary columns, read back and decoded through the REAL JDK codecs.
         |The invariant is an exact equality: total decoded channel/sample
         |sums == the formulas aggregated directly, over every asset.""".stripMargin,
      Seq(
        "PNG encode + write" -> f"$pngEncSec%.1f s (${nAssets / pngEncSec}%.0f imgs/s)",
        "PNG decode + stats" -> f"$pngDecSec%.1f s (${nAssets / pngDecSec}%.0f imgs/s, 0 failures)",
        "decoded channel sum == formula" -> s"$imgOk == $expectedImg (exact)",
        "WAV encode + write" -> f"$wavEncSec%.1f s (${nAssets / wavEncSec}%.0f clips/s)",
        "WAV decode + stats" -> f"$wavDecSec%.1f s (${nAssets / wavDecSec}%.0f clips/s, 0 failures)",
        "decoded sample sum / frames == formula" ->
          s"$wavSum / $wavFrames == $expectedWavSum / $expectedFrames (exact)",
        s"GIF video encode + write ($nVideos × $framesPer frames)" ->
          f"$gifEncSec%.1f s (${nVideos * framesPer / gifEncSec}%.0f frames/s)",
        "GIF video frame decode" ->
          f"$gifDecSec%.1f s (${nVideos * framesPer / gifDecSec}%.0f frames/s, 0 failures)",
        "decoded gray sum / frame count == formula" ->
          s"$gifSum / $gifFrames == $expectedGif / ${nVideos * framesPer} (exact)"),
      """- per-row work only: encode and decode are scan-side
        |  mapPartitions batches — no shuffle anywhere in either path, so
        |  the stage scales with executors × cores at any corpus size
        |- the binary column round-trips through parquet at rest, the
        |  shape multimodal tables have in production""".stripMargin)
  }

  val all: Seq[Stage] = Seq(dedup, hotbucket, streamdedup, chunkdedup, textops, spans,
    ppjoin, fuzzy, mllib, kernels, incremental, dsir, bpe, imagededup, multimodal)
}
