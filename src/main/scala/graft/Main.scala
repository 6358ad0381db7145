package graft

import graft.beacon._
import graft.core.Tables
import graft.streaming.{ChunkedTail, CompositeTail, HeadProbe, TailLoader}
import org.apache.spark.sql.SparkSession

/** CLI (reference D10 parity: src/cli.py) —
  *
  * {{{
  * graft load backfill  --base DIR --start-slot A --end-slot B [--beacon-url U] [--chunk-size N] [--workers N]
  * graft load realtime  --base DIR --beacon-url U [--delay N] [--chunk-size N] [--iterations N] [--loaders a,b,c] [--metrics-port P] [--auto-compact N]
  * graft transform batch|run --base DIR [--loader L] [--network N] [--continuous] [--poll-ms MS]
  * graft transform reprocess --base DIR --start-slot A --end-slot B [--loader L] [--chunk-size N]
  * graft maintain check|reset --base DIR
  * graft maintain fix --base DIR [--start-slot A] [--end-slot B] [--loaders a,b] [--force] [--beacon-url U]
  * graft maintain compact --base DIR [--tables t1,t2|raw_x] [--months 2024-01,..] [--min-files N] [--concurrent N] [--force]
  * graft maintain refresh-specs --base DIR --beacon-url U
  * graft status --base DIR
  * graft fork info --slot S [--network gnosis|mainnet]
  * graft fork list [--network gnosis|mainnet]
  * graft corpus dedup    --in DIR --out DIR [--against REFDIR] [--id-col c] [--text-col c] [--threshold 0.8]
  * graft corpus cap      --in DIR --out DIR --key-col c [--cap N] [--id-col c]
  * graft corpus sample   --in DIR --out DIR --pct P [--id-col c]
  * graft corpus upsample --in DIR --out DIR --key-col c --weights k=w,k=w [--default-weight 1.0] [--id-col c]
  * graft corpus export   --in DIR --out DIR --shards N [--id-col c]
  * graft corpus semdedup --in DIR --out DIR [--vec-col c] [--threshold 0.999] [--planes 16] [--bands 4] [--seed 42] [--via groups|dbscan [--min-pts 3] [--quality-col c]]
  * graft corpus scrub    --in DIR --out DIR [--text-col c]
  * graft corpus lmfilter --in DIR --out DIR --ref DIR [--max-novelty 0.3]
  * graft corpus linededup --in DIR --out DIR [--chunk-tokens 10] [--self] [--cdc] [--id-col c] [--text-col c]
  * graft corpus classify --in DIR --out DIR [--threshold 0.0] [--seed w] [--text-col c]
  * graft corpus curate   --in DIR --out DIR [--classify-threshold T] [--dsir-target DIR [--dsir-keep 0.5]] [--chunk-tokens 10] [--dedup-threshold 0.8] [--ref-bench DIR] [--budget N] [--shards K]
  * graft corpus annindex --in DIR --out DIR [--append] [--id-col c] [--vec-col c] [--lists 64] [--pq-m 16] [--pq-ksub 16] [--seed 42] [--trainer sample|exact|refined]
  * graft corpus annquery --in INDEXDIR {--query-id N | --query-ids N,N,...} [--index DIR] [--id-col c] [--vec-col c] [--k 10] [--nprobe 8] [--path pq|sq8|mrl] [--overfetch 16] [--prefix-dims 16] [--coarse 256] [--diverse [--pool 4k] [--lambda 0.7] [--mu 0.3]]
  * graft corpus pack     --in DIR --out DIR [--window-tokens 2048] [--id-col c] [--text-col c]
  * graft corpus chunk    --in DIR --out DIR [--chunk-tokens 256] [--stride 192] [--id-col c] [--text-col c]
  * graft corpus stats    --in DIR [--id-col c] [--text-col c]
  * graft corpus dsir     --in DIR --out DIR {--target DIR | --ratios DIR} [--save-ratios DIR] [--keep-fraction 0.5] [--buckets 4096] [--weights-only]
  * graft corpus pagerank --in EDGEDIR --out DIR [--src-col src] [--dst-col dst] [--weight-col w] [--iterations 10] [--damping 0.85] [--seeds DIR [--seed-col node]]
  * graft corpus triangles --in EDGEDIR --out DIR [--src-col src] [--dst-col dst]
  * graft corpus bpetrain --in DIR --out DIR [--merges 32] [--joiner ▁] [--text-col c]
  * graft corpus quantiles --in DIR --out DIR [--group-by c] [--value-col c] [--key-col c] [--k 1024] [--q 0.5,0.9,0.99]
  * graft corpus kmeans   --in DIR --out DIR [--vec-col c] [--k 16] [--iters 5] [--id-col c]
  * graft corpus spandedup --in DIR --out DIR [--w 50] [--min-occur 2] [--id-col c] [--text-col c]
  * graft corpus blocklist --in DIR --out DIR --patterns a,b,c [--max-hits 0] [--id-col c] [--text-col c]
  * graft corpus knngraph --in DIR --out DIR [--vec-col c] [--k 10] [--planes 16] [--bands 4] [--seed 42] [--id-col c]
  * graft corpus graphsearch --in DIR --graph GRAPHDIR {--query-id N | --query-ids N,N,...} [--k 10] [--beam 32] [--hops 3] [--entries 8 | --entry-ids N,N,...] [--vec-col c] [--id-col c]
  * graft corpus dbscan   --in DIR --out DIR [--vec-col c] [--tau 0.8] [--min-pts 4] [--planes 16] [--bands 4] [--seed 42] [--id-col c]
  * graft corpus diff     --in NEWDIR --against OLDDIR --out DIR [--id-col c] [--text-col c]
  * graft corpus incremental --in NEWDIR --against OLDDIR --out CACHEDIR [--cache PREVCACHEDIR] [--id-col c] [--text-col c]
  * graft corpus incrneardup --in NEWDIR --against OLDDIR --out CACHEDIR [--cache PREVCACHEDIR] [--num-hashes 8] [--rows-per-band 4] [--shingle-w 3] [--id-col c] [--text-col c]
  * graft corpus imagededup --in DIR --out DIR [--bin-col c] [--max-hamming 3] [--bands 4] [--id-col c]
  * graft corpus shuffle  --in DIR --out DIR [--seed epoch0] [--shards 8] [--id-col c]
  * graft corpus curriculum --in DIR --out DIR [--score-col c] [--stratum-col source] [--buckets 3] [--seed epoch0] [--shards 8] [--id-col c] [--text-col c]
  * }}}
  *
  * `--base DIR` holds `raw_blocks/`, `tables/`, `load_state_chunks/`,
  * `transformer_progress/`. Without `--beacon-url` the loader uses an
  * offline deterministic fetcher (CI/testing).
  */
object Main {

  private def opt(args: Array[String], name: String): Option[String] = {
    val i = args.indexOf(s"--$name")
    if (i >= 0 && i + 1 < args.length) Some(args(i + 1)) else None
  }

  private def session(): SparkSession = graft.core.Sessions.local(
    sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)

  private def cfgOf(args: Array[String]): ChainConfig =
    if (opt(args, "network").contains("mainnet")) ChainConfig.mainnet else ChainConfig.gnosis

  private def networkOf(args: Array[String]): String =
    opt(args, "network").getOrElse("gnosis")

  /** D9: the reference always runs genesis→specs→verify before any load
    * (loader.py:1008-1060). With a node URL we bootstrap (fetch + verify +
    * materialize foundation tables) and run with the DERIVED schedule;
    * offline we reuse a previous bootstrap's stored tables, else the
    * static preset. */
  private def cfgBootstrapped(
      spark: SparkSession, args: Array[String], base: String): ChainConfig =
    opt(args, "beacon-url") match {
      case Some(url) => Foundation.bootstrap(
        spark, HttpFoundationFetcher(url, opt(args, "api-key")), base, networkOf(args))
      case None => Foundation.storedConfig(spark, base, networkOf(args))
    }

  def main(args: Array[String]): Unit = args.toList match {
    case "load" :: "backfill" :: rest => backfill(rest.toArray)
    case "load" :: "realtime" :: rest => realtime(rest.toArray)
    case "transform" :: cmd :: rest if Set("batch", "run", "reprocess")(cmd) =>
      transform(cmd, rest.toArray)
    case "maintain" :: cmd :: rest if Set("check", "fix", "reset", "compact", "refresh-specs")(cmd) => maintain(cmd, rest.toArray)
    case "status" :: rest => status(rest.toArray)
    case "fork" :: "info" :: rest => forkInfo(rest.toArray)
    case "fork" :: "list" :: rest =>
      cfgOf(rest.toArray).forks.foreach(f => println(s"${f.name}\tepoch=${f.epoch}\tversion=${f.version}"))
    case "fork" :: "detect" :: rest => forkDetect(rest.toArray)
    case "corpus" :: cmd :: rest
        if Set("dedup", "semdedup", "scrub", "lmfilter", "linededup",
          "classify", "curate", "cap", "sample", "upsample", "export",
          "annindex", "annquery", "stats", "pack", "chunk", "dsir",
          "pagerank", "triangles", "bpetrain", "quantiles", "kmeans",
          "spandedup", "blocklist", "knngraph", "graphsearch", "dbscan",
          "diff", "shuffle", "curriculum", "incremental", "incrneardup",
          "imagededup")(cmd) =>
      val spark = session()
      try corpusRun(spark, cmd, rest.toArray) finally spark.stop()
    case _ =>
      System.err.println("usage: graft {load backfill|load realtime|transform batch|maintain check|fix|reset|status|fork info|fork list|fork detect --sample|corpus dedup|semdedup|scrub|lmfilter|linededup|classify|curate|cap|sample|upsample|export|annindex|annquery|stats|dsir|pagerank|triangles|bpetrain|quantiles|kmeans|spandedup|blocklist|knngraph|graphsearch|dbscan|diff|shuffle} [options]")
      sys.exit(2)
  }

  /** `graft corpus <dedup|semdedup|scrub|lmfilter|linededup|classify|curate|cap|sample|upsample|export|stats>` — the training-data curation
    * operators ([[graft.operators.Dedup]], [[graft.operators.Sampling]],
    * [[graft.operators.TextAnalysis]]) as batch CLI verbs over parquet
    * corpora. Session-injected so tests drive it on the shared fixture. */
  private[graft] def corpusRun(
      spark: SparkSession, cmd: String, args: Array[String]): Unit = {
    import org.apache.spark.sql.functions._
    val in = opt(args, "in").getOrElse(sys.error("--in required"))
    val idCol = opt(args, "id-col").getOrElse("doc_id")
    val textCol = opt(args, "text-col").getOrElse("text")
    val docs = Tables.open(spark, in)
    def outDir: String = opt(args, "out").getOrElse(sys.error("--out required"))
    cmd match {
      case "dedup" =>
        val threshold = opt(args, "threshold").map(_.toDouble).getOrElse(0.8)
        val out = outDir
        // --against REF runs the CROSS-CORPUS sweep first ("is it already
        // in the at-rest corpus?"): exact-hash anti-join, then the LSH
        // near-dup verdicts against the reference's band buckets — only
        // the survivors enter the within-corpus group dedup below
        val fresh = opt(args, "against") match {
          case Some(refDir) =>
            val ref = Tables.open(spark, refDir)
            val exactFresh = graft.operators.Dedup
              .exactDedupAgainst(docs, ref, idCol, textCol)
            val verdicts = graft.operators.Dedup
              .nearDupAgainst(exactFresh, ref, idCol, textCol,
                jaccardThreshold = threshold)
            val novel = verdicts.filter(!col("is_dup")).select(col(idCol))
            val kept = exactFresh.join(novel, Seq(idCol), "left_semi")
            verdicts.unpersist(blocking = false)
            kept
          case None => docs
        }
        val groups = graft.operators.Dedup
          .nearDupGroups(fresh, idCol, textCol, jaccardThreshold = threshold)
          .persist()
        val keep = groups.filter(col("is_representative")).select(col(idCol))
        fresh.join(keep, Seq(idCol), "left_semi")
          .write.mode("overwrite").parquet(out)
        val total = docs.count()
        val kept = Tables.open(spark, out).count()
        groups.unpersist(blocking = false)
        println(s"[graft] corpus dedup: $total docs -> $kept kept " +
          s"(${total - kept} dropped as duplicates, threshold $threshold" +
          opt(args, "against").map(r => s", swept against $r").getOrElse("") + ")")
      case "cap" =>
        val keyCol = opt(args, "key-col").getOrElse(sys.error("--key-col required"))
        val cap = opt(args, "cap").map(_.toInt).getOrElse(1000)
        val out = outDir
        graft.operators.Sampling.perKeyCap(docs, idCol, keyCol, cap)
          .drop("rk").write.mode("overwrite").parquet(out)
        val total = docs.count()
        val kept = Tables.open(spark, out).count()
        println(s"[graft] corpus cap: $total docs -> $kept kept " +
          s"(<= $cap per $keyCol)")
      case "sample" =>
        val pct = opt(args, "pct").map(_.toDouble)
          .getOrElse(sys.error("--pct required"))
        val out = outDir
        graft.operators.Sampling.deterministicSample(docs, idCol, pct)
          .write.mode("overwrite").parquet(out)
        println(s"[graft] corpus sample: kept ${Tables.open(spark, out).count()} " +
          s"of ${docs.count()} docs (pct $pct, hash-deterministic)")
      case "upsample" =>
        val keyCol = opt(args, "key-col").getOrElse(sys.error("--key-col required"))
        val weights = opt(args, "weights").getOrElse(sys.error("--weights required"))
          .split(",").map { kv =>
            val Array(k, w) = kv.split("=", 2)
            k -> w.toDouble
          }.toMap
        val defaultW = opt(args, "default-weight").map(_.toDouble).getOrElse(1.0)
        val out = outDir
        graft.operators.Sampling
          .upsampleByWeight(docs, idCol, keyCol, weights, defaultW)
          .write.mode("overwrite").parquet(out)
        println(s"[graft] corpus upsample: ${docs.count()} docs -> " +
          s"${Tables.open(spark, out).count()} rows (weights $weights, " +
          s"default $defaultW)")
      case "export" =>
        val shards = opt(args, "shards").map(_.toInt)
          .getOrElse(sys.error("--shards required"))
        val out = outDir
        // deterministic shard = hash bucket of the id (reproducible across
        // runs/engines, unlike round-robin repartition), one file per
        // shard, rows id-sorted within a shard for stable reads
        docs
          .withColumn("shard",
            pmod(xxhash64(col(idCol)), lit(shards.toLong)).cast("int"))
          .repartition(shards, col("shard"))
          .sortWithinPartitions(col("shard"), col(idCol))
          .write.mode("overwrite").partitionBy("shard").parquet(out)
        println(s"[graft] corpus export: ${Tables.open(spark, out).count()} rows " +
          s"into $shards hash shards at $out")
      case "annindex" =>
        // materialize the FAISS-style serving index: coarse k-means lists
        // + SQ8 codes + residual-PQ codes, list-partitioned parquet
        val vecCol = opt(args, "vec-col").getOrElse("embedding")
        val lists = opt(args, "lists").map(_.toInt).getOrElse(64)
        val m = opt(args, "pq-m").map(_.toInt).getOrElse(16)
        val ksub = opt(args, "pq-ksub").map(_.toInt).getOrElse(16)
        val seed = opt(args, "seed").map(_.toLong).getOrElse(42L)
        val out = outDir
        if (args.contains("--append")) {
          // incremental maintenance: reuse the index's persisted trained
          // params — append ≡ rebuild over the union (RecallSpec)
          val cents = java.nio.file.Files
            .readString(java.nio.file.Paths.get(out, "_ann_centroids.tsv"))
            .split("\n").map(_.split(",").map(_.toFloat))
          val cbLines = java.nio.file.Files
            .readString(java.nio.file.Paths.get(out, "_ann_codebooks.tsv"))
            .split("\n")
          val Array(am, aksub) = cbLines.head.split(" ").map(_.toInt)
          val cbs = cbLines.tail.map(_.split(",").map(_.toFloat))
            .grouped(aksub).map(_.toArray).toArray
          require(cbs.length == am, s"codebook file shape mismatch: ${cbs.length} != $am")
          graft.operators.Similarity.appendToIvfIndex(
            docs, vecCol, cents, out, withSq8Codes = true, pqCodebooksOpt = Some(cbs))
          println(s"[graft] corpus annindex --append: index now " +
            s"${Tables.open(spark, out).count()} vectors at $out")
          return
        }
        val sampleN = math.max(2000, 20 * lists)
        // --trainer exact: full-corpus distributed integer Lloyd
        // (kmeansLloydExact) instead of the driver-sample trainer — the
        // right call when the corpus is too large/diverse for sampleN
        // rows to shape `lists` centroids
        val cents = opt(args, "trainer").getOrElse("sample") match {
          case "exact" =>
            graft.operators.Similarity.kmeansCentroidsExact(
              docs, idCol, vecCol, lists, iters = 5)
          // sampled init + up to 2 exact full-corpus refinement passes
          // with integer early exit — the exact trainer's geometry at a
          // small multiple of the sampled wall (SCALE ivftrain stage)
          case "refined" =>
            graft.operators.Similarity.kmeansCentroidsRefined(
              docs, idCol, vecCol, lists, sampleIters = 5, refineIters = 2,
              seed = seed, sampleN = sampleN)
          case "sample" =>
            graft.operators.Similarity.kmeansCentroids(
              docs, vecCol, lists, iters = 5, seed = seed, sampleN = sampleN)
          case other => sys.error(s"unknown --trainer: $other (sample|exact|refined)")
        }
        val cbs = graft.operators.Similarity.pqCodebooksResidual(
          docs, vecCol, cents, m, ksub, iters = 5, seed = seed, sampleN = sampleN)
        graft.operators.Similarity.writeIvfIndex(
          docs, vecCol, cents, out, withSq8Codes = true, pqCodebooksOpt = Some(cbs))
        // persist the trained parameters next to the index so annquery can
        // probe without retraining — one centroid per line (comma-joined
        // floats); codebooks flattened to (m*ksub) lines in subspace order
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(out, "_ann_centroids.tsv"),
          cents.map(_.mkString(",")).mkString("\n"))
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(out, "_ann_codebooks.tsv"),
          s"$m $ksub\n" +
            cbs.flatMap(_.map(_.mkString(","))).mkString("\n"))
        println(s"[graft] corpus annindex: ${Tables.open(spark, out).count()} vectors " +
          s"in $lists lists at $out (sq8 + residual-pq m=$m ksub=$ksub)")
      case "annquery" =>
        val vecCol = opt(args, "vec-col").getOrElse("embedding")
        val index = opt(args, "index").getOrElse(in) // default: --in IS the index
        val k = opt(args, "k").map(_.toInt).getOrElse(10)
        val nProbe = opt(args, "nprobe").map(_.toInt).getOrElse(8)
        val path = opt(args, "path").getOrElse("pq") // pq | sq8
        val overfetch = opt(args, "overfetch").map(_.toInt).getOrElse(16)
        // trained artifacts load lazily: --path mrl needs neither
        lazy val cents = java.nio.file.Files
          .readString(java.nio.file.Paths.get(index, "_ann_centroids.tsv"))
          .split("\n").map(_.split(",").map(_.toFloat))
        lazy val codebooks = {
          val cbLines = java.nio.file.Files
            .readString(java.nio.file.Paths.get(index, "_ann_codebooks.tsv"))
            .split("\n")
          val Array(m, ksub) = cbLines.head.split(" ").map(_.toInt)
          val cbs = cbLines.tail.map(_.split(",").map(_.toFloat))
            .grouped(ksub).map(_.toArray).toArray
          require(cbs.length == m, s"codebook file shape mismatch: ${cbs.length} != $m")
          cbs
        }
        opt(args, "query-ids") match {
          case Some(idsCsv) =>
            // batched serving: ALL queries share one two-scan job over the
            // union of their probed lists (ivfSq8TopKJoinIndexed) — the
            // fixed per-job cost amortizes across the batch
            val qids = idsCsv.split(",").map(_.trim.toLong).toSeq
            val queries = Tables.open(spark, index)
              .filter(col(idCol).isin(qids: _*))
              .select(col(idCol), col(vecCol)).collect()
              .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toSeq
            graft.operators.Similarity.ivfSq8TopKJoinIndexed(
              spark, index, idCol, vecCol, queries, k, cents, nProbe,
              overfetch = math.max(1, overfetch / 4), excludeSelf = true)
              .orderBy(col("q_id"), col("rnk"))
              .collect().foreach { r =>
                println(s"${r.get(0)}\t${r.get(1)}\t${"%.6f".format(r.getDouble(3))}")
              }
          case None =>
            val qid = opt(args, "query-id").map(_.toLong)
              .getOrElse(sys.error("--query-id or --query-ids required"))
            val query = Tables.open(spark, index)
              .filter(col(idCol) === qid).select(vecCol).head().getSeq[Float](0)
            // --diverse: MMR-rerank a wider probe pool (k × pool-factor)
            // instead of returning the raw relevance order — near-duplicate
            // neighbors collapse to one representative in the answer
            val diverse = args.contains("--diverse")
            val poolSize = if (diverse)
              opt(args, "pool").map(_.toInt).getOrElse(k * 4) else k
            val top = path match {
              case "sq8" => graft.operators.Similarity.ivfSq8TopKIndexed(
                spark, index, idCol, vecCol, query, poolSize + 1, cents, nProbe)
              // index-free matryoshka two-stage: coarse prefix-dim cut +
              // exact full-dim rerank, straight over the corpus parquet
              case "mrl" =>
                val prefix = opt(args, "prefix-dims").map(_.toInt).getOrElse(16)
                val coarse = opt(args, "coarse").map(_.toInt)
                  .getOrElse(math.max(256, poolSize * 16))
                graft.operators.Similarity.matryoshkaTopK(
                  Tables.open(spark, index), idCol, vecCol, query,
                  poolSize + 1, prefix, coarse)
              case _ => graft.operators.Similarity.ivfPqTopKIndexed(
                spark, index, idCol, vecCol, query, poolSize + 1, cents, codebooks,
                nProbe, overfetch = overfetch)
            }
            val ranked = top.filter(col(idCol) =!= qid).limit(poolSize)
            if (diverse) {
              val lambda = opt(args, "lambda").map(_.toDouble).getOrElse(0.7)
              val mu = opt(args, "mu").map(_.toDouble).getOrElse(0.3)
              val rel = ranked.collect()
                .map(r => r.getLong(0) -> r.getDouble(1)).toMap
              val ids = rel.keys.toSeq
              // id-pushdown vector fetch for the bounded pool only (the
              // same two-scan discipline as the probe itself)
              val vecs = Tables.open(spark, index)
                .filter(col(idCol).isin(ids: _*))
                .select(col(idCol), col(vecCol)).collect()
                .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
              val pool = ids.sorted.map(i => (i, vecs(i), rel(i)))
                .sortBy { case (i, _, r) => (-r, i) }.toArray
              graft.operators.Similarity.mmrGreedy(pool, k, lambda, mu)
                .foreach(id => println(s"$id\t${"%.6f".format(rel(id))}"))
            } else ranked.collect().foreach { r =>
              println(s"${r.get(0)}\t${"%.6f".format(r.getDouble(1))}")
            }
        }
      case "semdedup" =>
        val vecCol = opt(args, "vec-col").getOrElse("embedding")
        val threshold = opt(args, "threshold").map(_.toDouble).getOrElse(0.999)
        val planes = opt(args, "planes").map(_.toInt).getOrElse(16)
        val bands = opt(args, "bands").map(_.toInt).getOrElse(4)
        val seed = opt(args, "seed").map(_.toLong).getOrElse(42L)
        val out = outDir
        opt(args, "via").getOrElse("groups") match {
          case "dbscan" =>
            // SemDeDup proper: DBSCAN clusters + best-of-group survivor
            // (argmax --quality-col, default the id itself — "keep the
            // newest copy"); noise survives untouched
            val minPts = opt(args, "min-pts").map(_.toInt).getOrElse(3)
            val qCol = opt(args, "quality-col").getOrElse(idCol)
            val surv = graft.operators.Similarity.semanticSurvivors(
              docs, idCol, vecCol, qCol, threshold, minPts, planes, seed, bands)
            val keep = surv.filter(col("kept")).select(col(idCol))
            docs.join(keep, Seq(idCol), "left_semi")
              .write.mode("overwrite").parquet(out)
            val total = docs.count()
            val kept = Tables.open(spark, out).count()
            surv.unpersist(blocking = false)
            println(s"[graft] corpus semdedup --via dbscan: $total docs -> " +
              s"$kept kept (${total - kept} semantic dups dropped, cosine >= " +
              s"$threshold, minPts=$minPts, quality=$qCol)")
          case "groups" =>
            val groups = graft.operators.Dedup
              .semanticDedupGroups(docs, idCol, vecCol, planes, seed, threshold, bands)
              .persist()
            val keep = groups.filter(col("is_representative")).select(col(idCol))
            docs.join(keep, Seq(idCol), "left_semi")
              .write.mode("overwrite").parquet(out)
            val total = docs.count()
            val kept = Tables.open(spark, out).count()
            groups.unpersist(blocking = false)
            println(s"[graft] corpus semdedup: $total docs -> $kept kept " +
              s"(${total - kept} semantic dups dropped, cosine >= $threshold, " +
              s"$planes planes x $bands bands)")
          case other => sys.error(s"unknown --via: $other (groups|dbscan)")
        }
      case "scrub" =>
        val out = outDir
        val pii = docs.agg(
          sum(graft.operators.Pii.emailCount(col(textCol))).as("e"),
          sum(graft.operators.Pii.phoneCount(col(textCol))).as("p")).head()
        docs.withColumn(textCol, graft.operators.Pii.redact(col(textCol)))
          .write.mode("overwrite").parquet(out)
        println(s"[graft] corpus scrub: redacted ${pii.getLong(0)} emails, " +
          s"${pii.getLong(1)} phones across ${Tables.open(spark, out).count()} docs")
      case "dsir" =>
        // importance-resampling selection: --target is the exemplar
        // corpus; keep the top --keep-fraction by hashed-n-gram weight
        // (or just score with --weights-only). --ratios DIR applies a
        // PRE-TRAINED ratio table in one corpus scan (the sharded
        // production path); --save-ratios DIR persists the trained table
        // for exactly that reuse.
        val buckets = opt(args, "buckets").map(_.toInt).getOrElse(4096)
        val out = outDir
        val ratios = opt(args, "ratios") match {
          case Some(dir) => Tables.open(spark, dir)
          case None =>
            val targetDir = opt(args, "target")
              .getOrElse(sys.error("--target or --ratios required"))
            val t = graft.operators.Importance
              .ratioTable(Tables.open(spark, targetDir), docs, textCol, buckets)
            opt(args, "save-ratios").foreach { rd =>
              t.coalesce(1).write.mode("overwrite").parquet(rd)
              println(s"[graft] corpus dsir: ratio table ($buckets buckets) -> $rd")
            }
            t
        }
        if (args.contains("--weights-only")) {
          graft.operators.Importance
            .applyWeights(docs, ratios, idCol, textCol, buckets)
            .write.mode("overwrite").parquet(out)
          println(s"[graft] corpus dsir: weights for ${docs.count()} docs -> $out")
        } else {
          val frac = opt(args, "keep-fraction").map(_.toDouble).getOrElse(0.5)
          graft.operators.Importance
            .dsirSelectWithRatios(docs, ratios, idCol, textCol, frac, buckets)
            .write.mode("overwrite").parquet(out)
          val total = docs.count()
          val kept = Tables.open(spark, out).count()
          println(s"[graft] corpus dsir: $total docs -> $kept kept " +
            s"(top ${(frac * 100).round}% by importance)")
        }
      case "pagerank" =>
        // authority ranking over an edge-list parquet (--src-col/--dst-col/
        // --weight-col); emits (node, rank). With --seeds DIR the teleport
        // is personalized to that node list (topic-sensitive ranking).
        val srcCol = opt(args, "src-col").getOrElse("src")
        val dstCol = opt(args, "dst-col").getOrElse("dst")
        val wCol = opt(args, "weight-col").getOrElse("w")
        val iters = opt(args, "iterations").map(_.toInt).getOrElse(10)
        val damping = opt(args, "damping").map(_.toDouble).getOrElse(0.85)
        val out = outDir
        val ranks = opt(args, "seeds") match {
          case Some(seedDir) =>
            graft.operators.Graph.personalizedPageRank(
              docs, srcCol, dstCol, wCol,
              Tables.open(spark, seedDir),
              opt(args, "seed-col").getOrElse("node"), iters, damping)
          case None =>
            graft.operators.Graph.pageRank(
              docs, srcCol, dstCol, wCol, iters, damping, checkpoint = true)
        }
        ranks.write.mode("overwrite").parquet(out)
        ranks.unpersist(blocking = false) // caller-owned checkpoint released
        val n = Tables.open(spark, out).count()
        println(s"[graft] corpus pagerank: $n nodes ranked ($iters iterations) -> $out")
      case "triangles" =>
        // triangle participation counts + per-edge common-neighbor /
        // Jaccard link scores over an edge-list parquet — writes
        // nodes/ (node, n_triangles) and edges/ (a, b, deg_a, deg_b,
        // cn, jaccard) under --out
        val srcCol = opt(args, "src-col").getOrElse("src")
        val dstCol = opt(args, "dst-col").getOrElse("dst")
        val out = outDir
        graft.operators.Graph.triangleCounts(docs, srcCol, dstCol)
          .write.mode("overwrite").parquet(s"$out/nodes")
        graft.operators.Graph.edgeCommonNeighbors(docs, srcCol, dstCol)
          .write.mode("overwrite").parquet(s"$out/edges")
        val nn = Tables.open(spark, s"$out/nodes").count()
        val ne = Tables.open(spark, s"$out/edges").count()
        println(s"[graft] corpus triangles: $nn nodes in triangles, $ne scored edges -> $out")
      case "lmfilter" =>
        val ref = opt(args, "ref").getOrElse(sys.error("--ref required"))
        val maxNovelty = opt(args, "max-novelty").map(_.toDouble).getOrElse(0.3)
        val out = outDir
        graft.operators.LmScore
          .familiarityFiltered(docs, Tables.open(spark, ref), idCol, textCol, maxNovelty)
          .write.mode("overwrite").parquet(out)
        val total = docs.count()
        val kept = Tables.open(spark, out).count()
        println(s"[graft] corpus lmfilter: $total docs -> $kept kept " +
          s"(${total - kept} above novelty $maxNovelty vs $ref)")
      case "linededup" =>
        val chunkTokens = opt(args, "chunk-tokens").map(_.toInt).getOrElse(10)
        val out = outDir
        // rewrite each doc with repeated chunks removed (first occurrence
        // survives); corpus-wide by default, --self scopes the repeat
        // check to each document alone (zero-shuffle scan-side rewrite —
        // generation-stutter scrubbing). Corpus-wide chunkDedup returns a
        // PERSISTED frame — caller-owned, released after the write below;
        // the self variant persists nothing
        // --cdc switches to content-defined boundaries (md5-prefix rule):
        // repeated passages keep deduplicating across offset shifts
        val chunkFrame =
          if (args.contains("--self"))
            graft.operators.Dedup
              .selfChunkDedup(docs, idCol, textCol, chunkTokens)
          else if (args.contains("--cdc"))
            graft.operators.Dedup.cdcChunkDedup(docs, idCol, textCol)
          else graft.operators.Dedup
            .chunkDedup(docs, idCol, textCol, chunkTokens)
        val deduped = chunkFrame.filter(col("text_dedup").isNotNull)
        docs.drop(textCol)
          .join(deduped.select(col(idCol), col("text_dedup").as(textCol),
            col("n_chunks"), col("n_kept")), Seq(idCol))
          .write.mode("overwrite").parquet(out)
        chunkFrame.unpersist(blocking = false)
        val total = docs.count()
        val kept = Tables.open(spark, out)
        val k = kept.count()
        val chunks = kept.agg(sum("n_chunks"), sum("n_kept")).head()
        println(s"[graft] corpus linededup: $total docs -> $k kept " +
          s"(${chunks.getLong(0) - chunks.getLong(1)} of ${chunks.getLong(0)} " +
          s"$chunkTokens-token chunks removed as repeats)")
      case "bpetrain" =>
        // learn a BPE merge table over the corpus and write it as a
        // 1-file parquet (rank, left, right, count) — the
        // tokenizer-training artifact downstream tokenizers consume
        val k = opt(args, "merges").map(_.toInt).getOrElse(32)
        val joiner = opt(args, "joiner").getOrElse("\u2581")
        val merges = graft.operators.BpeTrain.learnMerges(
          docs, textCol, k, joiner)
        import spark.implicits._
        merges.zipWithIndex
          .map { case (m, i) => (i, m.left, m.right, m.count) }
          .toDF("rank", "left", "right", "count")
          .coalesce(1).write.mode("overwrite").parquet(outDir)
        println(s"[graft] corpus bpetrain: learned ${merges.size} merges " +
          s"(top: ${merges.take(3).map(m => s"${m.left}+${m.right}").mkString(", ")})")
      case "quantiles" =>
        // bounded-memory per-group quantile report from the bottom-k
        // hash sample (deterministic, mergeable)
        val groupBy = opt(args, "group-by").getOrElse(idCol)
        val valueCol = opt(args, "value-col").getOrElse("value")
        val keyCol = opt(args, "key-col").getOrElse(idCol)
        val k = opt(args, "k").map(_.toInt).getOrElse(1024)
        val qs = opt(args, "q").map(_.split(",").toSeq.map(_.toDouble))
          .getOrElse(Seq(0.5, 0.9, 0.99))
        val out = graft.operators.Sketches.sampledQuantiles(
          docs, Seq(groupBy), valueCol, keyCol, k, qs)
        out.coalesce(1).write.mode("overwrite").parquet(outDir)
        println(s"[graft] corpus quantiles: ${out.columns.mkString(",")} -> $outDir")
      case "kmeans" =>
        // distributed exact-integer Lloyd over an embedding column:
        // writes the assignment (id, list_id) plus a 1-file centroid
        // table (list_id, dim, c) — the SemDeDup/IVF training artifact
        val vecCol = opt(args, "vec-col").getOrElse("embedding")
        val k = opt(args, "k").map(_.toInt).getOrElse(16)
        val iters = opt(args, "iters").map(_.toInt).getOrElse(5)
        val (cents, assigned) = graft.operators.Similarity.kmeansLloydExact(
          docs, idCol, vecCol, k, iters)
        assigned.write.mode("overwrite").parquet(s"$outDir/assign")
        import spark.implicits._
        cents.zipWithIndex.flatMap { case (c, i) =>
          c.zipWithIndex.map { case (v, d0) => (i.toLong, (d0 + 1).toLong, v) }
        }.toSeq.toDF("list_id", "dim", "c")
          .coalesce(1).write.mode("overwrite").parquet(s"$outDir/centroids")
        println(s"[graft] corpus kmeans: k=$k, $iters iterations -> $outDir")
      case "spandedup" =>
        // cross-document repeated n-gram span removal (substring dedup):
        // writes per-doc coverage stats + the rebuilt text
        val w = opt(args, "w").map(_.toInt).getOrElse(50)
        val minOccur = opt(args, "min-occur").map(_.toLong).getOrElse(2L)
        val out = graft.operators.Dedup.repeatedSpans(
          docs, idCol, textCol, w, minOccur)
        out.write.mode("overwrite").parquet(outDir)
        println(s"[graft] corpus spandedup: w=$w minOccur=$minOccur -> $outDir")
      case "knngraph" =>
        // approximate kNN graph over an embedding column
        val vecCol = opt(args, "vec-col").getOrElse("embedding")
        val k = opt(args, "k").map(_.toInt).getOrElse(10)
        val planes = opt(args, "planes").map(_.toInt).getOrElse(16)
        val bands = opt(args, "bands").map(_.toInt).getOrElse(4)
        val seed = opt(args, "seed").map(_.toLong).getOrElse(42L)
        val g = graft.operators.Similarity.knnGraph(
          docs, idCol, vecCol, k, planes, seed, bands)
        g.write.mode("overwrite").parquet(outDir)
        g.unpersist(blocking = false)
        println(s"[graft] corpus knngraph: k=$k planes=$planes bands=$bands -> $outDir")
      case "graphsearch" =>
        // serve queries by greedy beam descent over a materialized
        // knngraph dir (single-layer HNSW shape). DEFAULT entries are
        // LSH-SEEDED from each query's own band buckets (the r15
        // navigability fix — a fixed entry set cannot descend a
        // near-forest graph); --entry-ids / --entries keeps the fixed
        // path. --seed-planes/--seed-bands tune the seed pool width
        // without rebuilding the graph. --query-ids runs ALL queries
        // through ONE batched descent — the annquery convention.
        val vecCol = opt(args, "vec-col").getOrElse("embedding")
        val graphDir = opt(args, "graph")
          .getOrElse(sys.error("corpus graphsearch needs --graph GRAPHDIR"))
        val k = opt(args, "k").map(_.toInt).getOrElse(10)
        val beam = opt(args, "beam").map(_.toInt).getOrElse(math.max(32, k))
        val hops = opt(args, "hops").map(_.toInt).getOrElse(3)
        val seedPlanes = opt(args, "seed-planes").map(_.toInt).getOrElse(8)
        val seedBands = opt(args, "seed-bands").map(_.toInt).getOrElse(4)
        val lshSeed = opt(args, "seed").map(_.toLong).getOrElse(42L)
        def fixedEntries(exclude: Set[Long]): Option[Seq[Long]] =
          opt(args, "entry-ids")
            .map(_.split(",").map(_.trim.toLong).toSeq)
            .orElse(opt(args, "entries").map { n =>
              docs.filter(!col(idCol).isin(exclude.toSeq: _*))
                .select(col(idCol).cast("long")).orderBy(col(idCol).asc)
                .limit(n.toInt).collect().map(_.getLong(0)).toSeq
            })
        opt(args, "query-ids") match {
          case Some(idsCsv) =>
            val qids = idsCsv.split(",").map(_.trim.toLong).toSeq
            val queries = docs.filter(col(idCol).isin(qids: _*))
              .select(col(idCol).as("q_id"), col(vecCol))
            val hits = fixedEntries(qids.toSet) match {
              case Some(entries) => graft.operators.Similarity.graphSearchBatch(
                docs, Tables.open(spark, graphDir), idCol, vecCol,
                queries, "q_id", vecCol, entries, k, beam, hops)
              case None => graft.operators.Similarity.graphSearchBatchSeeded(
                docs, Tables.open(spark, graphDir), idCol, vecCol,
                queries, "q_id", vecCol, k, beam, hops,
                seedPlanes, lshSeed, seedBands)
            }
            hits.orderBy(col("q_id"), col("rnk")).collect()
              .foreach(r => println(s"${r.getLong(0)}\t${r.getLong(1)}\t${r.get(2)}"))
            hits.unpersist(blocking = false)
          case None =>
            val qid = opt(args, "query-id").map(_.toLong)
              .getOrElse(sys.error("--query-id or --query-ids required"))
            val query = docs.filter(col(idCol) === qid)
              .select(vecCol).head().getSeq[Float](0)
            val corpus = docs.filter(col(idCol) =!= qid)
            val hits = fixedEntries(Set(qid)) match {
              case Some(entries) => graft.operators.Similarity.graphSearch(
                corpus, Tables.open(spark, graphDir),
                idCol, vecCol, query, entries, k, beam, hops)
              case None => graft.operators.Similarity.graphSearchSeeded(
                corpus, Tables.open(spark, graphDir),
                idCol, vecCol, query, k, beam, hops,
                seedPlanes, lshSeed, seedBands)
            }
            hits.orderBy("rnk").collect()
              .foreach(r => println(s"${r.getLong(0)}\t${r.get(1)}"))
        }
      case "dbscan" =>
        // density clustering: (id, role core|border|noise, cluster)
        val vecCol = opt(args, "vec-col").getOrElse("embedding")
        val tau = opt(args, "tau").map(_.toDouble).getOrElse(0.8)
        val minPts = opt(args, "min-pts").map(_.toInt).getOrElse(4)
        val planes = opt(args, "planes").map(_.toInt).getOrElse(16)
        val bands = opt(args, "bands").map(_.toInt).getOrElse(4)
        val seed = opt(args, "seed").map(_.toLong).getOrElse(42L)
        val cl = graft.operators.Similarity.dbscanLabels(
          docs, idCol, vecCol, tau, minPts, planes, seed, bands)
        cl.write.mode("overwrite").parquet(outDir)
        cl.unpersist(blocking = false)
        println(s"[graft] corpus dbscan: tau=$tau minPts=$minPts -> $outDir")
      case "imagededup" =>
        // image near-dup pairs over an aHash'd corpus (m12): decode +
        // aHash if the input carries raw image bytes (--bin-col), else
        // expect (id, width, height, ahash) columns; banded Hamming join,
        // exact verify — complete for --max-hamming <= bands-1
        val maxHamming = opt(args, "max-hamming").map(_.toInt).getOrElse(3)
        val bands = opt(args, "bands").map(_.toInt).getOrElse(4)
        val hashed = opt(args, "bin-col") match {
          case Some(bin) =>
            graft.operators.Multimodal.decodeImageAHashBatched(docs, idCol, bin)
          case None => docs
        }
        val pairs = graft.operators.Dedup.imageNearDupPairs(
          hashed, idCol, "width", "height", "ahash", maxHamming, bands)
        pairs.write.mode("overwrite").parquet(outDir)
        val nP = Tables.open(spark, outDir).count()
        pairs.unpersist(blocking = false)
        println(s"[graft] corpus imagededup: $nP near-dup pairs " +
          s"(hamming <= $maxHamming, $bands bands) -> $outDir")
      case "incrneardup" =>
        // incremental near-dup (the d23 identity): carry the previous
        // snapshot's cached (id, band, bh) rows + pairs, re-sign only the
        // added/changed delta, rebuild pairs in delta-touched buckets;
        // writes the NEW band cache (--out/bands) + pairs (--out/pairs)
        val refDir = opt(args, "against")
          .getOrElse(sys.error("corpus incrneardup needs --against OLDDIR"))
        val old = Tables.open(spark, refDir)
        val numHashes = opt(args, "num-hashes").map(_.toInt).getOrElse(8)
        val rowsPerBand = opt(args, "rows-per-band").map(_.toInt).getOrElse(4)
        val shingleW = opt(args, "shingle-w").map(_.toInt).getOrElse(3)
        val (v1b, v1p) = opt(args, "cache") match {
          case Some(c) =>
            // the natural snapshot-rotation mistake: --out equal to
            // --cache would have newBands.write overwrite the very
            // parquet path v1Bands is still lazily reading — Spark either
            // throws "Cannot overwrite a path that is also being read
            // from" or, worse, corrupts the carry cache mid-scan
            require(new java.io.File(c).getCanonicalPath !=
              new java.io.File(outDir).getCanonicalPath,
              s"corpus incrneardup: --out ($outDir) must differ from " +
                s"--cache ($c) — write the new snapshot's cache to a fresh " +
                "dir and rotate afterwards")
            (Tables.open(spark, s"$c/bands"), Tables.open(spark, s"$c/pairs"))
          case None => // bootstrap: previous run's assets from OLDDIR
            val b = graft.operators.Dedup.minhashBandRows(
              old, idCol, textCol, numHashes, rowsPerBand, shingleW).persist()
            (b, graft.operators.Dedup.pairsFromBandRows(b))
        }
        val (newBands, pairs) = graft.operators.IncrementalCurate
          .incrementalNearDupPairs(old, docs, v1b, v1p, idCol, textCol,
            numHashes, rowsPerBand, shingleW)
        newBands.write.mode("overwrite").parquet(s"$outDir/bands")
        pairs.write.mode("overwrite").parquet(s"$outDir/pairs")
        val nP = Tables.open(spark, s"$outDir/pairs").count()
        newBands.unpersist(blocking = false)
        pairs.unpersist(blocking = false)
        v1b.unpersist(blocking = false)
        println(s"[graft] corpus incrneardup: $nP candidate pairs " +
          s"(next-snapshot cache at $outDir/bands)")
      case "incremental" =>
        // incremental re-curation (the d22 identity): carry the previous
        // snapshot's per-doc verdicts, run the per-doc stack on the
        // added ∪ changed delta only, write the NEW verdict cache
        val refDir = opt(args, "against")
          .getOrElse(sys.error("corpus incremental needs --against OLDDIR"))
        val old = Tables.open(spark, refDir)
        val op = graft.operators.IncrementalCurate
        val v1Done = opt(args, "cache") match {
          case Some(c) => Tables.open(spark, c)
          case None => op.perDocVerdicts(old, idCol, textCol) // bootstrap
        }
        val verdicts = op.incrementalVerdicts(old, docs, v1Done, idCol, textCol)
        verdicts.write.mode("overwrite").parquet(outDir)
        val nV = Tables.open(spark, outDir).count()
        val nG = op.dedupGroups(Tables.open(spark, outDir), idCol).count()
        verdicts.unpersist(blocking = false)
        println(s"[graft] corpus incremental: $nV per-doc verdicts " +
          s"(next-snapshot cache at $outDir), $nG distinct-content groups")
      case "diff" =>
        // corpus snapshot diff: --against OLDDIR; (id, status)
        val refDir = opt(args, "against")
          .getOrElse(sys.error("corpus diff needs --against OLDDIR"))
        val old = Tables.open(spark, refDir)
        val out = graft.operators.Dedup.corpusDiff(old, docs, idCol, textCol)
        out.write.mode("overwrite").parquet(outDir)
        val byStatus = Tables.open(spark, outDir).groupBy("status").count()
          .collect().map(r => s"${r.getString(0)}=${r.getLong(1)}").sorted.mkString(" ")
        println(s"[graft] corpus diff: $byStatus -> $outDir")
      case "shuffle" =>
        // deterministic epoch shuffle: sort by md5(seed||id), shard-ready
        val seed = opt(args, "seed").getOrElse("epoch0")
        graft.operators.Sampling.deterministicShuffle(docs, idCol, seed)
          .repartitionByRange(
            opt(args, "shards").map(_.toInt).getOrElse(8), col("shuffle_key"))
          .sortWithinPartitions("shuffle_key")
          .write.mode("overwrite").parquet(outDir)
        println(s"[graft] corpus shuffle: seed '$seed' -> $outDir")
      case "curriculum" =>
        // easy→hard training order: per-stratum exact quantile buckets of
        // a difficulty score + deterministic within-bucket shuffle; the
        // written order (bucket, shuffle_key) IS the curriculum
        val seed = opt(args, "seed").getOrElse("epoch0")
        val buckets = opt(args, "buckets").map(_.toInt).getOrElse(3)
        val stratum = opt(args, "stratum-col").getOrElse("source")
        val (base, scoreCol) = opt(args, "score-col") match {
          case Some(c) => (docs, c)
          case None => (docs.withColumn("n_tokens",
            graft.operators.TextAnalysis.tokenCount(col(textCol)).cast("long")),
            "n_tokens")
        }
        graft.operators.Sampling
          .curriculumOrder(base, idCol, stratum, scoreCol, buckets, seed)
          .repartitionByRange(
            opt(args, "shards").map(_.toInt).getOrElse(8),
            col("bucket"), col("shuffle_key"))
          .sortWithinPartitions("bucket", "shuffle_key")
          .write.mode("overwrite").parquet(outDir)
        println(s"[graft] corpus curriculum: $buckets buckets of " +
          s"'$scoreCol' per '$stratum', seed '$seed' -> $outDir")
      case "blocklist" =>
        // substring/phrase blocklist (Aho-Corasick, one pass per row):
        // --patterns a,b,c ; writes (id, n_hits, flagged)
        val patterns = opt(args, "patterns")
          .map(_.split(",").toSeq.filter(_.nonEmpty))
          .getOrElse(sys.error("corpus blocklist needs --patterns a,b,c"))
        val maxHits = opt(args, "max-hits").map(_.toLong).getOrElse(0L)
        val out = graft.operators.TextAnalysis.substringBlocklistHits(
          docs, idCol, textCol, patterns, maxHits)
        out.write.mode("overwrite").parquet(outDir)
        println(s"[graft] corpus blocklist: ${patterns.size} patterns -> $outDir")
      case "classify" =>
        val threshold = opt(args, "threshold").map(_.toDouble).getOrElse(0.0)
        val seed = opt(args, "seed").getOrElse("w")
        val out = outDir
        graft.operators.Classifier.filtered(docs, textCol, seed, threshold)
          .write.mode("overwrite").parquet(out)
        val total = docs.count()
        val kept = Tables.open(spark, out).count()
        println(s"[graft] corpus classify: $total docs -> $kept kept " +
          s"(hashed-linear score > $threshold, seed '$seed')")
      case "curate" =>
        // the composed end-to-end curation funnel — each stage is the
        // operator its standalone verb exposes, chained with counts:
        // quality gate → classifier gate → [DSIR importance select] →
        // near-dup dedup → chunk-level line dedup → [decontam] →
        // [token budget] → [shard] write.
        // Fuzzy (near-dup) dedup runs BEFORE sub-document dedup: the
        // reverse order shreds a near-duplicate into a unique-looking
        // remnant (its shared chunks removed) that then survives the
        // fuzzy pass — the RefinedWeb ordering.
        val out = outDir
        val chunkTokens = opt(args, "chunk-tokens").map(_.toInt).getOrElse(10)
        val dedupThreshold = opt(args, "dedup-threshold").map(_.toDouble).getOrElse(0.8)
        val clsThreshold = opt(args, "classify-threshold").map(_.toDouble)
        val n0 = docs.count()
        val funnel = scala.collection.mutable.LinkedHashMap("input" -> n0)
        // 1. heuristic quality gate (length/token/punct envelope)
        val q = graft.operators.TextAnalysis.qualityFilter(docs, textCol)
          .filter(col("quality_ok"))
          .select(docs.columns.map(col): _*)
        funnel += "quality" -> q.count()
        // 2. learned-gate stand-in (hashed-linear classifier), opt-in
        val classified = clsThreshold match {
          case Some(t) => graft.operators.Classifier.filtered(q, textCol, "w", t)
          case None => q
        }
        if (clsThreshold.isDefined) funnel += "classify" -> classified.count()
        // 2b. DSIR importance selection toward an exemplar corpus, opt-in
        // (before dedup: importance is per-document and independent, so
        // running it on the larger pre-dedup set keeps the stage cheap
        // relative to the pair-generating stages it shrinks)
        val selected = opt(args, "dsir-target") match {
          case Some(tgt) =>
            val keep = opt(args, "dsir-keep").map(_.toDouble).getOrElse(0.5)
            graft.operators.Importance.dsirSelect(
              classified, Tables.open(spark, tgt), idCol, textCol, keep)
          case None => classified
        }
        if (opt(args, "dsir-target").isDefined)
          funnel += "dsir" -> selected.count()
        // 3. whole-document near-dup dedup (representatives survive)
        val groups = graft.operators.Dedup
          .nearDupGroups(selected, idCol, textCol, jaccardThreshold = dedupThreshold)
          .persist()
        val deduped = selected.join(
          groups.filter(col("is_representative")).select(col(idCol)), Seq(idCol), "left_semi")
        funnel += "neardedup" -> deduped.count()
        // 4. sub-document dedup: repeated chunks removed, docs rewritten
        // (chunkDedup's persisted frame is caller-owned — released with
        // `groups` after the funnel materializes)
        val chunkFrame = graft.operators.Dedup
          .chunkDedup(deduped, idCol, textCol, chunkTokens)
        val lineDeduped = deduped.drop(textCol).join(
          chunkFrame
            .filter(col("text_dedup").isNotNull)
            .select(col(idCol), col("text_dedup").as(textCol)),
          Seq(idCol))
        funnel += "linededup" -> lineDeduped.count()
        // 5. benchmark decontamination, opt-in
        val decontamed = opt(args, "ref-bench") match {
          case Some(bench) => graft.operators.Decontam.decontaminated(
            lineDeduped, Tables.open(spark, bench), idCol, textCol, w = 8)
          case None => lineDeduped
        }
        if (opt(args, "ref-bench").isDefined) funnel += "decontam" -> decontamed.count()
        // 6. token-budget selection (largest-first priority = doc id asc
        // tie), opt-in
        val budgeted = opt(args, "budget").map(_.toLong) match {
          case Some(b) =>
            val withCost = decontamed.withColumn("__tokens",
              graft.operators.TextAnalysis.tokenCount(col(textCol)).cast("long"))
            graft.operators.Sampling
              .tokenBudgetSelect(withCost, idCol, "__tokens", "__tokens", b)
              .drop("__tokens")
          case None => decontamed
        }
        if (opt(args, "budget").isDefined) funnel += "budget" -> budgeted.count()
        // 7. write — hash-sharded when --shards is given
        opt(args, "shards").map(_.toInt) match {
          case Some(k) =>
            budgeted
              .withColumn("shard", pmod(xxhash64(col(idCol)), lit(k.toLong)).cast("int"))
              .repartition(k, col("shard"))
              .sortWithinPartitions(col("shard"), col(idCol))
              .write.mode("overwrite").partitionBy("shard").parquet(out)
          case None => budgeted.write.mode("overwrite").parquet(out)
        }
        groups.unpersist(blocking = false)
        chunkFrame.unpersist(blocking = false)
        val kept = Tables.open(spark, out).count()
        funnel += "written" -> kept
        println("[graft] corpus curate funnel: " +
          funnel.map { case (k, v) => s"$k=$v" }.mkString(" -> "))
      case "pack" =>
        // sequence packing: per-doc global offset / window id / crossing
        // flag for concatenate-and-cut context assembly
        val windowTokens = opt(args, "window-tokens").map(_.toLong).getOrElse(2048L)
        val out = outDir
        val withTokens = docs.withColumn("__n_tokens",
          graft.operators.TextAnalysis.tokenCount(col(textCol)).cast("long"))
        graft.operators.Sampling.withPackWindows(
          withTokens, idCol, "__n_tokens", windowTokens) { packed =>
          packed.withColumnRenamed("__n_tokens", "n_tokens")
            .write.mode("overwrite").parquet(out)
        }
        val packedDf = Tables.open(spark, out)
        val crossing = packedDf.filter(col("crosses")).count()
        println(s"[graft] corpus pack: ${packedDf.count()} docs into " +
          s"${windowTokens}-token windows ($crossing cross a boundary)")
      case "chunk" =>
        // overlapping passage chunks (retrieval-context shape)
        val chunkTokens = opt(args, "chunk-tokens").map(_.toInt).getOrElse(256)
        val stride = opt(args, "stride").map(_.toInt).getOrElse(192)
        val out = outDir
        graft.operators.TextAnalysis
          .passageChunks(docs, idCol, textCol, chunkTokens, stride)
          .write.mode("overwrite").parquet(out)
        val n = Tables.open(spark, out).count()
        println(s"[graft] corpus chunk: $n passages " +
          s"($chunkTokens tokens, stride $stride) at $out")
      case "stats" =>
        val q = graft.operators.TextAnalysis.qualityFilter(docs, textCol)
        val r = q.agg(
          count(lit(1)).as("docs"),
          sum(graft.operators.TextAnalysis.tokenCount(col(textCol)).cast("long"))
            .as("tokens"),
          sum(when(col("quality_ok"), 1L).otherwise(0L)).as("quality_ok")).head()
        println(s"[graft] corpus stats: docs=${r.getLong(0)} " +
          s"tokens=${r.getLong(1)} quality_ok=${r.getLong(2)}")
    }
  }

  /** `fork detect --sample` — the legacy sampling fallback for spec-less
    * nodes (reference fork.py:253-361): recover the schedule from raw
    * block payload versions. Without --sample the spec-derived schedule
    * is authoritative — use `fork info` / `maintain refresh-specs`. */
  private def forkDetect(args: Array[String]): Unit = {
    if (!args.contains("--sample")) {
      System.err.println(
        "fork detect requires --sample (spec-derived schedules are the " +
          "primary path — see `fork info` and `maintain refresh-specs`)")
      sys.exit(2)
    }
    val spark = session()
    val base = opt(args, "base").getOrElse(sys.error("--base required"))
    val preset = cfgOf(args)
    val raw = Tables.open(spark, s"$base/raw_blocks")
    val detected = ForkDetect.configFromDetection(raw, preset)
    detected.forks.foreach(f =>
      println(s"${f.name}\tepoch=${f.epoch}\tversion=${f.version}"))
    spark.stop()
  }

  /** Offline deterministic fetcher (CI/testing): every 10th slot empty. */
  private def offlineFetcher: SlotFetcher = new SlotFetcher {
    def fetch(slot: Long): Option[String] =
      if (slot % 10 == 9) None
      else Some(
        s"""{"version":"phase0","data":{"message":{"slot":"$slot","proposer_index":"${slot % 64}","parent_root":"0xp","state_root":"0xs","body":{"randao_reveal":"0xr","graffiti":"0x00","eth1_data":{"deposit_root":"0xd","deposit_count":"1","block_hash":"0xb"},"attestations":[],"deposits":[],"voluntary_exits":[],"proposer_slashings":[],"attester_slashings":[]}},"signature":"0xbs"}}""")
  }

  private def fetcherOf(args: Array[String]): SlotFetcher =
    opt(args, "beacon-url") match {
      // --api-key is honored here exactly like the foundation fetch
      case Some(url) => HttpSlotFetcher(
        url, "/eth/v2/beacon/blocks/{slot}", apiKey = opt(args, "api-key"))
      case None => offlineFetcher
    }

  private def backfill(args: Array[String]): Unit = {
    val spark = session()
    val base = opt(args, "base").getOrElse(sys.error("--base required"))
    val cfg = cfgBootstrapped(spark, args, base)
    val start = opt(args, "start-slot").map(_.toLong).getOrElse(0L)
    val end = opt(args, "end-slot").map(_.toLong).getOrElse(start + 999L)
    val cs = opt(args, "chunk-size").map(_.toLong).getOrElse(1000L)
    val ledger = LedgerStore(s"$base/load_state_chunks")
    val fetcher = fetcherOf(args)
    // plan → skip already-completed (the bulk anti-join) → ingest
    val planned = Ledger.planChunks(spark, start, end, cs, "blocks")
    val existing = ledger.read(spark, Schemas.loadStateChunks)
    val todo = Ledger.newChunks(planned, Ledger.chunkStates(existing)
      .filter(org.apache.spark.sql.functions.col("status") === "completed"))
      .select("start_slot", "end_slot").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    println(s"[graft] backfill: ${todo.length} chunks to load")
    val par = spark.sparkContext.defaultParallelism
    opt(args, "workers").map(_.toInt) match {
      case Some(workers) => // thread-pooled per-chunk mode (failure isolation)
        val oks = RawIngest.ingestChunksPooled(spark, cfg, fetcher,
          s"$base/raw_blocks", ledger, "blocks", todo, workers, par)
        todo.zip(oks).foreach { case ((a, b), ok) =>
          println(s"[graft] chunk $a-$b: ${if (ok) "completed" else "failed"}") }
      case None => // default: ONE fused Spark job over all chunks
        val ok = RawIngest.ingestChunksFused(spark, cfg, fetcher,
          s"$base/raw_blocks", ledger, "blocks", todo, par)
        if (!ok) { // per-chunk fallback isolates the poisoned range
          println("[graft] fused backfill failed; retrying per chunk")
          todo.foreach { case (a, b) =>
            val okc = RawIngest.ingestChunk(spark, cfg, fetcher, s"$base/raw_blocks",
              ledger, "blocks", a, b, parallelism = par)
            println(s"[graft] chunk $a-$b: ${if (okc) "completed" else "failed"}")
          }
        } else println(s"[graft] backfill: ${todo.length} chunks completed (fused)")
    }
    spark.stop()
  }

  private def realtime(args: Array[String]): Unit = {
    val spark = session()
    val base = opt(args, "base").getOrElse(sys.error("--base required"))
    val cfg = cfgBootstrapped(spark, args, base)
    val url = opt(args, "beacon-url").getOrElse(sys.error("--beacon-url required for realtime"))
    val probe = new HeadProbe {
      def headSlot(): Long = {
        val client = java.net.http.HttpClient.newHttpClient()
        val resp = client.send(
          java.net.http.HttpRequest.newBuilder(
            java.net.URI.create(s"$url/eth/v1/beacon/headers/head")).GET().build(),
          java.net.http.HttpResponse.BodyHandlers.ofString())
        """"slot"\s*:\s*"(\d+)"""".r.findFirstMatchIn(resp.body())
          .map(_.group(1).toLong).getOrElse(sys.error("no head slot"))
      }
    }
    val chunkSize = opt(args, "chunk-size").map(_.toLong).getOrElse(100L)
    val slotDelay = opt(args, "delay").map(_.toLong).getOrElse(100L)
    val iterations = opt(args, "iterations").map(_.toInt).getOrElse(Int.MaxValue)
    // D11: Prometheus /metrics + /health for the long-lived tail process
    opt(args, "metrics-port").foreach { p =>
      val port = graft.core.Observability.start(spark, p.toInt)
      println(s"[graft] metrics server on :$port (/metrics, /health)")
    }
    // realtime feeds the transformer continuously (reference
    // loader.py:120-241): every ingested chunk is transformed in the same
    // micro-batch, so structured tables tail the head too
    val chained = Some((s"$base/tables", LedgerStore(s"$base/transformer_progress")))
    // --auto-compact N: continuous-merge analogue — after batches that
    // appended, compact behind-frontier months holding >= N files
    // (ClickHouse merges continuously; a months-long tail otherwise
    // accumulates small files until an operator remembers `maintain
    // compact`). 0 = off.
    val autoCompact = opt(args, "auto-compact").map(_.toInt).getOrElse(0)
    val compactionLog =
      if (autoCompact > 0) Some(LedgerStore(s"$base/compaction_log")) else None
    opt(args, "loaders") match {
      case Some(names) => // composite tail: every named loader per micro-batch
        val tls = names.split(",").toSeq.map { n =>
          val l = Loaders.byName(n.trim)
          TailLoader(l, l.httpFetcher(url, opt(args, "api-key")),
            chainedTransform = chained)
        }
        new CompositeTail(spark, cfg, probe, base,
          LedgerStore(s"$base/load_state_chunks"), tls, chunkSize, slotDelay,
          autoCompactMinFiles = autoCompact, compactionLog = compactionLog)
          .run(iterations)
      case None =>
        new ChunkedTail(spark, cfg, fetcherOf(args), probe,
          s"$base/raw_blocks", LedgerStore(s"$base/load_state_chunks"),
          chainedTransform = chained,
          chunkSize = chunkSize, slotDelay = slotDelay,
          autoCompactMinFiles = autoCompact, compactionLog = compactionLog)
          .run(iterations)
    }
    graft.core.Observability.stop()
    spark.stop()
  }

  private def transform(cmd: String, args: Array[String]): Unit = {
    val spark = session()
    val base = opt(args, "base").getOrElse(sys.error("--base required"))
    val loaderName = opt(args, "loader").getOrElse("blocks")
    val loader = Loaders.byName(loaderName)
    // transform derives timing from the bootstrapped foundation tables
    // when present (reference: time_helpers, loader.py:1008-1060)
    val cfg = Foundation.storedConfig(spark, base, networkOf(args))
    val rawDir = s"$base/raw_$loaderName"
    val outDir = s"$base/tables"
    val chunkLedger = LedgerStore(s"$base/load_state_chunks")
    val progressLedger = LedgerStore(s"$base/transformer_progress")
    // R6: startup stale-claim recovery (reference transformer.py:104-129
    // resets claimed/processing >30 min on start)
    val recovered = Maintenance.resetStaleClaims(spark, chunkLedger)
    if (recovered > 0) println(s"[graft] recovered $recovered stale claims")
    cmd match {
      case "reprocess" => // cli.py:47-53
        val start = opt(args, "start-slot").map(_.toLong).getOrElse(sys.error("--start-slot required"))
        val end = opt(args, "end-slot").map(_.toLong).getOrElse(sys.error("--end-slot required"))
        val cs = opt(args, "chunk-size").map(_.toLong).getOrElse(100L)
        val ok = Transformer.reprocess(
          spark, cfg, loader, rawDir, outDir, progressLedger, start, end, cs)
        println(s"[graft] reprocess $start-$end ($loaderName): ${if (ok) "ok" else "FAILED"}")
      case "run" if args.contains("--continuous") => // transformer.py:131-233
        Transformer.runContinuous(spark, cfg, rawDir, outDir, chunkLedger,
          progressLedger, loader,
          pollMillis = opt(args, "poll-ms").map(_.toLong).getOrElse(10000L))
      case _ => // batch (and one-shot `run`)
        val n = Transformer.runBatch(
          spark, cfg, rawDir, outDir, chunkLedger, progressLedger, loader)
        println(s"[graft] transform $cmd ($loaderName): $n chunks processed")
    }
    spark.stop()
  }

  /** Ops status surface: chunk overview (A1) + transform rollup (A3). */
  private def status(args: Array[String]): Unit = {
    val spark = session()
    val base = opt(args, "base").getOrElse(sys.error("--base required"))
    println("[graft] chunk overview:")
    Ledger.overview(LedgerStore(s"$base/load_state_chunks")
      .read(spark, Schemas.loadStateChunks)).show(50, truncate = false)
    println("[graft] transform status:")
    val progress = LedgerStore(s"$base/transformer_progress")
      .read(spark, Schemas.transformerProgress)
    Ledger.transformStatus(progress).show(50, truncate = false)
    // reference transformer_status.py:41-60: recent failures (with error
    // message) and recent activity, newest first
    import org.apache.spark.sql.functions.col
    val states = Ledger.progressStates(progress)
    println("[graft] recent failures:")
    states.filter(col("status") === "failed")
      .select("raw_table_name", "start_slot", "end_slot", "failed_count", "error_message")
      .orderBy(col("processed_at").desc).limit(5).show(5, truncate = 60)
    println("[graft] recent activity:")
    states
      .select("raw_table_name", "start_slot", "end_slot", "status",
        "processed_count", "failed_count", "processed_at")
      .orderBy(col("processed_at").desc).limit(10).show(truncate = false)
    // note: accumulator metrics are per-session; a CLI `status` runs in a
    // fresh JVM, so they are reported by the long-lived processes instead
    spark.stop()
  }

  private def maintain(cmd: String, args: Array[String]): Unit = {
    val spark = session()
    val base = opt(args, "base").getOrElse(sys.error("--base required"))
    val chunkLedger = LedgerStore(s"$base/load_state_chunks")
    val progressLedger = LedgerStore(s"$base/transformer_progress")
    cmd match {
      case "check" =>
        Maintenance.check(spark, chunkLedger, progressLedger, Seq("blocks"))
          .foreach { case (name, df) => println(s"[graft] $name:"); df.show(50, truncate = false) }
      case "fix" =>
        // one-command repair (reference maintenance.py:77-138): delete →
        // reset → reload → retransform, scoped by --start-slot/--end-slot/
        // --loaders, --force fixing EVERY chunk not just failed (cli.py:65)
        val loaderDefs = opt(args, "loaders")
          .map(_.split(",").toSeq.map(n => Loaders.byName(n.trim)))
          .getOrElse(Seq(Loaders.blocks))
        // storedConfig, not the static preset: deleteSlotRange computes
        // month partitions from the cfg — a mismatch with the DERIVED
        // schedule the load ran under would target the wrong months
        val cfg = Foundation.storedConfig(spark, base, networkOf(args))
        opt(args, "beacon-url") match {
          case Some(url) =>
            val fetcherFor: LoaderDef => SlotFetcher =
              l => l.httpFetcher(url, opt(args, "api-key"))
            val fixed = Maintenance.fixAndRepair(spark, cfg, base,
              chunkLedger, progressLedger, loaderDefs, fetcherFor,
              startSlot = opt(args, "start-slot").map(_.toLong).getOrElse(0L),
              endSlot = opt(args, "end-slot").map(_.toLong).getOrElse(Long.MaxValue),
              force = args.contains("--force"),
              parallelism = spark.sparkContext.defaultParallelism)
            fixed.foreach { case (l, n) =>
              println(s"[graft] $l: $n chunks repaired (deleted + reloaded + retransformed)")
            }
          case None =>
            // NO reload source → the full repair would replace real chain
            // data with the offline CI fetcher's synthetic payloads and
            // mark the chunks completed. Without a node, stop at
            // delete-raw + reset-to-pending — but honor the SAME
            // loader/slot scoping as the full repair: each loader's
            // chunks delete from ITS raw dir only, and chunks outside
            // the requested window are untouched.
            import org.apache.spark.sql.functions.{col, lit}
            val states = Ledger.chunkStates(chunkLedger.read(spark, Schemas.loadStateChunks))
            val fixStart = opt(args, "start-slot").map(_.toLong).getOrElse(0L)
            val fixEnd = opt(args, "end-slot").map(_.toLong).getOrElse(Long.MaxValue)
            loaderDefs.foreach { l =>
              val targets = states
                .filter(col("loader_name") === l.name)
                .filter(if (args.contains("--force")) lit(true) else col("status") === "failed")
                .filter(col("start_slot") <= fixEnd && col("end_slot") >= fixStart)
              val n = Maintenance.fixChunks(spark, cfg, s"$base/${l.rawTable}", chunkLedger, targets)
              println(s"[graft] ${l.name}: $n chunks reset to pending (raw windows " +
                "deleted; pass --beacon-url to reload + retransform in one command)")
            }
        }
      case "compact" =>
        // ReplacingMergeTree merge analogue (Compaction.scala): collapse
        // month partitions to latest(), re-sort, re-size, atomic swap.
        // Default target = every structured table on disk plus every
        // loader's raw table — the same surface background merges cover.
        val months = opt(args, "months")
          .map(_.split(",").map(_.trim).toSeq).getOrElse(Nil)
        val minFiles = opt(args, "min-files").map(_.toInt).getOrElse(2)
        // concurrent-append guard: months at/after the ingest frontier are
        // excluded (their in-flight appends would be dropped by the swap)
        // unless --force, for a store that is known-quiesced
        val hotFloor =
          if (args.contains("--force")) None
          else {
            val cfg = Foundation.storedConfig(spark, base, networkOf(args))
            val f = Compaction.frontierMonth(spark, chunkLedger, cfg)
            f.foreach(m => println(s"[graft] compact: months >= $m are at the " +
              "ingest frontier and are skipped (--force compacts them anyway)"))
            f
          }
        val tables = opt(args, "tables")
          .map(_.split(",").map(_.trim).toSeq)
          .getOrElse {
            Transformer.tableKeys.keys.toSeq.sorted
              .filter(t => graft.core.Fs.exists(spark, s"$base/tables/$t")) ++
              Loaders.all.map(_.rawTable)
                .filter(t => graft.core.Fs.exists(spark, s"$base/$t"))
          }
        val compactionLog = LedgerStore(s"$base/compaction_log")
        val version = System.currentTimeMillis()
        val concurrent = opt(args, "concurrent").map(_.toInt).getOrElse(1)
        tables.foreach { t =>
          val results =
            if (t.startsWith("raw_")) Compaction.compactRaw(spark, base, t, months, minFiles, hotFloor, concurrent)
            else Compaction.compactStructured(spark, base, t, months, minFiles, hotFloor, concurrent)
          Compaction.record(spark, compactionLog, results, version)
          results.foreach { r =>
            println(s"[graft] compact ${r.table} month=${r.month}: " +
              s"files ${r.filesBefore}->${r.filesAfter}, " +
              s"rows ${r.rowsBefore}->${r.rowsAfter}, " +
              s"bytes ${r.bytesBefore}->${r.bytesAfter}")
          }
          if (results.isEmpty) println(s"[graft] compact $t: nothing to do")
        }
      case "reset" =>
        val claimed = Ledger.chunkStates(chunkLedger.read(spark, Schemas.loadStateChunks))
          .filter(org.apache.spark.sql.functions.col("status") === "claimed")
        Maintenance.resetChunks(chunkLedger, claimed)
        println("[graft] claimed chunks reset to pending")
      case "refresh-specs" => // reference: src/cli.py:77-82
        val url = opt(args, "beacon-url").getOrElse(sys.error("--beacon-url required for refresh-specs"))
        val n = Foundation.refreshSpecs(
          spark, HttpFoundationFetcher(url, opt(args, "api-key")), base)
        println(s"[graft] refresh-specs: $n spec parameters stored")
    }
    spark.stop()
  }

  private def forkInfo(args: Array[String]): Unit = {
    val cfg = cfgOf(args)
    val slot = opt(args, "slot").map(_.toLong).getOrElse(0L)
    val f = cfg.forkAtSlotValue(slot)
    println(s"slot=$slot fork=${f.name} version=${f.version} epoch=${slot / cfg.slotsPerEpoch}")
  }
}
