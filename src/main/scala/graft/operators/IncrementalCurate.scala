package graft.operators

import graft.core.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Incremental corpus re-processing — the versioning identity
  * `funnel(v2) ≡ carried(v1) − removed + funnel(added ∪ changed)` as a
  * production operator (gated as d22; measured at 1M docs in SCALE.md's
  * incremental stage). The funnel's per-doc half (quality gate →
  * classifier — the expensive text passes) reduces each snapshot to
  * cacheable `(id, content-hash)` VERDICT rows; a later snapshot then
  * pays one hash-diff scan plus the per-doc stack on the added ∪
  * changed delta only, and any global reduction (exact dedup, token
  * budget) reruns over the maintained verdict rows — id + 16-byte hash,
  * never the unchanged texts. At 100 TB this is the difference between
  * re-curating 2% and re-reading everything.
  */
object IncrementalCurate {

  /** The per-doc half of the curation funnel (the d22 construction:
    * [[TextAnalysis.qualityFilter]] gate, then [[Classifier.scored]]
    * keep), reduced to `(idCol, h)` verdict rows — `h` the md5 of the
    * surviving text, the join key every downstream global stage needs.
    * Pure per-row verdicts: carrying a cached row for an unchanged doc
    * is EXACTLY equal to recomputing it, which is what makes
    * [[incrementalVerdicts]] an identity rather than an approximation. */
  def perDocVerdicts(
      df: DataFrame, idCol: String, textCol: String,
      classifierSeed: String = "w", classifierThreshold: Double = 0.0): DataFrame = {
    // ONE scan-side pass, zero joins: both gates are pure per-row
    // functions of the text, so the classifier keep is an inline filter
    // ([[Classifier.filtered]]) instead of the old scored→left_semi
    // self-join — which analyzed and ran the quality subtree TWICE per
    // action and paid a join exchange for a verdict derivable row-locally
    // (ids are unique per snapshot, so semi-join ≡ filter). Fan the scan
    // out first when the source is narrow ([[Fan.scan]] — a single-file
    // snapshot otherwise runs the whole pass on one core; a many-file
    // production input skips the exchange).
    val q = TextAnalysis.qualityFilter(Fan.scan(df), textCol)
      .filter(col("quality_ok")).select(col(idCol), col(textCol))
    Classifier.filtered(q, textCol, classifierSeed, classifierThreshold)
      .select(col(idCol), md5(col(textCol)).as("h"))
  }

  /** Verdicts for snapshot `v2` given snapshot `v1` and v1's cached
    * [[perDocVerdicts]] rows: one [[Dedup.corpusDiff]] hash scan
    * classifies every id, `same` ids carry their cached verdict
    * (text equality certified by the hash), and the per-doc stack runs
    * on `added ∪ changed` alone; `removed` ids drop with the diff.
    * Returns the new `(idCol, h)` verdict frame — the cache for the
    * NEXT snapshot — PINNED (persist + count, the dbscanLabels
    * contract: it feeds several downstream actions; caller releases);
    * the diff frame is pinned for its two uses and released before
    * return. */
  def incrementalVerdicts(
      v1: DataFrame, v2: DataFrame, v1Verdicts: DataFrame,
      idCol: String, textCol: String,
      classifierSeed: String = "w", classifierThreshold: Double = 0.0): DataFrame = {
    val diff = Dedup.corpusDiff(v1, v2, idCol, textCol).persist()
    val carried = v1Verdicts.join(
      diff.filter(col("status") === "same").select(idCol), Seq(idCol), "left_semi")
    val fresh = perDocVerdicts(
      v2.join(diff.filter(col("status").isin("added", "changed")).select(idCol),
        Seq(idCol), "left_semi"),
      idCol, textCol, classifierSeed, classifierThreshold)
    val out = carried.unionByName(fresh).persist()
    out.count()
    diff.unpersist(blocking = false)
    out
  }

  /** INCREMENTAL MinHash near-dup candidates — the d22 versioning
    * identity extended to the expensive LSH stage:
    * `pairs(v2) ≡ carried(v1 pairs, both endpoints unchanged)
    *            ∪ pairs(buckets touched by the delta)`.
    * The cached asset is [[Dedup.minhashBandRows]]'s (id, band, bh)
    * frame — pure per-row functions of (id, text), so `same` ids (text
    * equality certified by the diff's hash) carry their rows verbatim
    * and only `added ∪ changed` texts pay the shingle+MinHash passes.
    * Pair identity: a v2 pair with both endpoints unchanged shared a
    * bucket in v1 (identical band rows) → carried; a pair with a delta
    * endpoint lives in a bucket CONTAINING a delta row → rebuilt by the
    * delta-bucket all-pairs join (which regenerates some old-old pairs;
    * the union is distinct). Scale shape: every carry/prune is a
    * broadcast ANTI-join keyed on the delta-sized non-same id set (or
    * the delta bucket set) — the corpus-sized cache frames stream
    * through one scan each; nothing joins against a corpus-sized key
    * list. Exact under the clean pairing rule
    * ([[Dedup.pairsFromBandRows]] — a pure function of bucket
    * membership; hot-chain corpora should full-recompute instead),
    * asserted in-query by the d23 gate and measured at 1M docs / 2%
    * delta in SCALE's incremental stage.
    *
    * Returns (newBandRows, pairs) — BOTH pinned (persist + count, the
    * dbscanLabels contract: the band rows are the next snapshot's
    * cache, the pairs feed downstream verification; caller releases);
    * the diff temp is released before return. */
  def incrementalNearDupPairs(
      v1: DataFrame, v2: DataFrame,
      v1Bands: DataFrame, v1Pairs: DataFrame,
      idCol: String, textCol: String,
      numHashes: Int, rowsPerBand: Int, shingleWidth: Int = 1,
      md5Parity: Boolean = false,
      /** an already-materialized [[Dedup.corpusDiff]] frame for this
        * snapshot pair — in a real pipeline ONE diff drives every
        * incremental stage (funnel, near-dup, …); recomputing it here
        * would re-md5 both corpora per stage. Omitted, the diff is
        * computed internally. Either way its cache pin is RELEASED
        * before return (pass a re-pinnable frame, not one whose pin
        * you still need). */
      diffOpt: Option[DataFrame] = None,
      /** the delta documents (idCol, textCol for added ∪ changed) when
        * the caller already HAS them — the production shape: a snapshot
        * delta arrives from ingest with its texts (the r20/r21 delta
        * rows), so the fresh path signs those rows directly instead of
        * re-scanning the full v2 text column to extract 2% of it (at
        * 100 TB that scan IS the cost the incremental path exists to
        * avoid). Omitted, the delta is derived by a v2 semi-join. */
      deltaDocsOpt: Option[DataFrame] = None,
      /** Hot-bucket ceiling for the delta-touched pairing: the clean
        * rule ([[Dedup.pairsFromBandRows]]) all-pairs-joins every
        * touched bucket, so a mega-cluster bucket (n rows → n²/2
        * candidates) that the delta touches would blow the task up
        * SILENTLY. Exceeding the ceiling fails LOUD naming the bucket —
        * falling back to [[Dedup.minhashCandidatePairs]]'s chain guard
        * is NOT done here because the chain rule is not a pure function
        * of bucket membership and would break the carried-pair
        * identity; hot corpora should full-recompute through the
        * guarded path instead (as the scaladoc above states). */
      maxBucketAllPairs: Int = 1024): (DataFrame, DataFrame) = {
    val diff = diffOpt.getOrElse(
      Dedup.corpusDiff(v1, v2, idCol, textCol)).persist()
    // every filter below is keyed on the NON-same id set (the delta,
    // ~2-3% of the corpus) so the corpus-sized cache frames are pruned
    // by broadcast anti-joins — never hash-joined against a corpus-sized
    // `same` id list, which would cost as much as the full recompute
    // (measured: the semi-join-on-same formulation LOST to full at 100k)
    val nonSameIds = broadcast(
      diff.filter(col("status") =!= "same").select(col(idCol).as("id")))
    val deltaIds = diff.filter(col("status").isin("added", "changed"))
      .select(col(idCol))
    val carriedBands = v1Bands.join(nonSameIds, Seq("id"), "left_anti")
    // delta-sized: pin it — it feeds BOTH the new cache union and the
    // delta-bucket set below (unpinned, the wide v2 text scan behind it
    // would run twice — measured as the dominant incremental cost)
    val freshBands = Dedup.minhashBandRows(
      deltaDocsOpt.getOrElse(
        v2.join(deltaIds, Seq(idCol), "left_semi").select(col(idCol), col(textCol))),
      idCol, textCol,
      numHashes, rowsPerBand, shingleWidth, md5Parity).persist()
    val newBands = carriedBands.unionByName(freshBands).persist()
    // buckets containing at least one delta row — at a 2% delta this
    // prunes the self-join to the touched slice of the bucket space
    // (broadcast: the set is delta-sized)
    val deltaBuckets = broadcast(freshBands.select("band", "bh").distinct())
    val touched = newBands.join(deltaBuckets, Seq("band", "bh"), "left_semi")
    // HOT-BUCKET GUARD (r16, VERDICT r15 "what's wrong" #2): detect a
    // touched bucket the clean all-pairs rule would blow up on and fail
    // LOUD naming it, BEFORE the self-join launches. One bounded probe
    // over the (already delta-pruned) touched slice; sizes are exact.
    // This collect is ALSO the action that materializes the newBands /
    // freshBands cache pins (it replaces the plain count() the pin used
    // to need), so the guard costs no extra pass.
    val hot = touched.groupBy("band", "bh").agg(count(lit(1)).as("__n"))
      .filter(col("__n") > maxBucketAllPairs)
      .orderBy(col("__n").desc).limit(1).collect()
    if (hot.nonEmpty) {
      // release the pins taken above before failing (r16 advisory): the
      // documented fall-back is a full recompute and must not start with
      // this call's cache blocks leaked in the session
      Seq(freshBands, newBands, diff).foreach(_.unpersist(blocking = false))
      val r = hot.head
      throw new IllegalArgumentException(
        s"incrementalNearDupPairs: delta-touched bucket (band=${r.get(0)}, " +
          s"bh=${r.get(1)}) holds ${r.getLong(2)} rows > " +
          s"maxBucketAllPairs=$maxBucketAllPairs — the clean pairing rule " +
          "would self-join it quadratically; full-recompute this snapshot " +
          "through Dedup.minhashCandidatePairs (hot-chain guarded) instead")
    }
    val freshPairs = Dedup.pairsFromBandRows(touched)
    val carriedPairs = v1Pairs
      .join(nonSameIds.select(col("id").as("d1")), Seq("d1"), "left_anti")
      .join(nonSameIds.select(col("id").as("d2")), Seq("d2"), "left_anti")
      .select("d1", "d2")
    val pairs = carriedPairs.unionByName(freshPairs).distinct().persist()
    pairs.count()
    freshBands.unpersist(blocking = false)
    diff.unpersist(blocking = false)
    (newBands, pairs)
  }

  /** The global exact-dedup reduction over verdict rows (min-id per
    * content hash) — reruns in full on every snapshot, but its input is
    * id + 16-byte hash pairs, not the corpus. */
  def dedupGroups(verdicts: DataFrame, idCol: String): DataFrame =
    verdicts.groupBy("h")
      .agg(min(idCol).as("keep_id"), count(lit(1)).as("n"))

  /** STREAMING arm — fold ONE micro-batch of snapshot-delta rows into
    * the verdict cache. A delta row is `(idCol, status, textCol)` with
    * `status ∈ added | changed | removed` (a `same` doc never ships —
    * the upstream hash diff drops it; `removed` rows carry NULL text).
    * The cache lives as versioned parquet snapshots under `cacheDir`:
    * `v0` is the previous corpus snapshot's [[perDocVerdicts]], and
    * micro-batch b reads `v{b}` and writes `v{b+1}` — so a replayed
    * batch (restart mid-stream) rewrites its version from the same
    * input deterministically: exactly-once by idempotence, the
    * checkpointed-sink convention. Per batch the work is one anti-join
    * keyed on the id (cache rows are id + 16-byte hash, never text)
    * plus the per-doc funnel over the delta's `added ∪ changed` texts
    * only — the d22 identity applied continuously. At 100 TB the
    * versioned-parquet cache is the portable state store (a production
    * deploy would bucket it by id and compact old versions; the update
    * logic is unchanged). Call from `foreachBatch`
    * (e.g. [[graft.queries.Inventory]]'s staged foreach drain). */
  def applyDeltaBatch(
      cacheDir: String, batch: DataFrame, batchId: Long,
      idCol: String, textCol: String,
      classifierSeed: String = "w", classifierThreshold: Double = 0.0): Unit = {
    val spark = batch.sparkSession
    // fail LOUD with the coupling named, not a bare path-not-found: the
    // cache version is keyed to the streaming batchId, which assumes the
    // source delivers exactly ONE staged delta file per trigger
    // (maxFilesPerTrigger = 1 — the drainStagedForeach construction). A
    // source that coalesced two delta files into one trigger would skip
    // a version and silently fold against a stale cache if this read
    // ever grew a create-if-absent fallback.
    val prevPath = new org.apache.hadoop.fs.Path(s"$cacheDir/v$batchId")
    val fs = prevPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(prevPath),
      s"applyDeltaBatch: verdict cache $prevPath is absent for batch " +
        s"$batchId — versions are keyed to the batchId, which requires " +
        "exactly one staged delta file per trigger (seed v0 before the " +
        "stream; keep maxFilesPerTrigger = 1)")
    val prev = Tables.open(spark, s"$cacheDir/v$batchId")
    val drop = batch.filter(col("status").isin("removed", "changed"))
      .select(col(idCol))
    val fresh = perDocVerdicts(
      batch.filter(col("status").isin("added", "changed"))
        .select(col(idCol), col(textCol)),
      idCol, textCol, classifierSeed, classifierThreshold)
    prev.join(drop, Seq(idCol), "left_anti")
      .unionByName(fresh)
      .write.mode("overwrite").parquet(s"$cacheDir/v${batchId + 1}")
  }

  /** [[applyDeltaBatch]] with a BUCKETED live cache — the 100 TB shape:
    * instead of versioned full-cache snapshots (every micro-batch
    * rewrites the whole cache — a multi-TB write per batch at 10^11
    * docs), the cache is ONE live parquet dataset hash-partitioned by
    * `bucket = pmod(xxhash64(id), buckets)`, and a micro-batch rewrites
    * ONLY the buckets containing its delta ids (dynamic partition
    * overwrite): per-batch write volume is ∝ delta-touched buckets, not
    * cache size — measured in SCALE's incremental stage.
    *
    * Exactly-once by IDEMPOTENCE without version numbers: the batch
    * drops ALL of its delta ids from the touched buckets (added AND
    * changed AND removed) then re-adds fresh verdicts for added ∪
    * changed — replaying a batch whose write already landed drops the
    * previously-applied rows and re-derives them identically (verdicts
    * are pure functions of (id, text)), so the bucket converges to the
    * same content. Unlike the versioned path, this does NOT depend on
    * the one-file-per-trigger coupling — any delta partitioning into
    * batches converges, because each batch's rows are self-contained
    * (an id appears in one delta batch). Seed the cache with
    * [[seedBucketedCache]]. Caveat (documented, inherent to dynamic
    * overwrite): the multi-bucket commit is not atomic — a crash
    * mid-commit needs the batch replayed, which the streaming
    * checkpoint guarantees. */
  def applyDeltaBatchBucketed(
      cacheDir: String, batch: DataFrame,
      idCol: String, textCol: String, buckets: Int,
      classifierSeed: String = "w", classifierThreshold: Double = 0.0): Unit = {
    require(buckets >= 1, s"buckets must be >= 1: got $buckets")
    val spark = batch.sparkSession
    val bucketOf = pmod(xxhash64(col(idCol)), lit(buckets.toLong))
    // the touched-bucket set is bounded by `buckets` (a plan literal
    // below, so the live read partition-prunes to these directories)
    val deltaBuckets = batch.select(bucketOf.as("bucket"))
      .distinct().collect().map(_.getLong(0)).sorted
    if (deltaBuckets.nonEmpty) {
      val live = Tables.open(spark, s"$cacheDir/live")
        .filter(col("bucket").isin(deltaBuckets: _*))
      val dropAll = batch.select(col(idCol))
      val fresh = perDocVerdicts(
        batch.filter(col("status").isin("added", "changed"))
          .select(col(idCol), col(textCol)),
        idCol, textCol, classifierSeed, classifierThreshold)
        .withColumn("bucket", bucketOf)
      // MATERIALIZATION-BEFORE-WRITE INVARIANT: `next` is about to
      // dynamic-overwrite the very live/ path its lineage reads. An
      // eager localCheckpoint CUTS that lineage — the frame becomes a
      // LogicalRDD over already-computed blocks, so the write below can
      // never re-read live/ mid-replacement (the old persist+collect
      // formulation only worked because the collect happened to fully
      // materialize the cache before the overwrite analysis ran).
      val next = live.join(dropAll, Seq(idCol), "left_anti")
        .unionByName(fresh)
        .localCheckpoint(true)
      // dynamic overwrite only rewrites partitions PRESENT in the output:
      // a bucket the delta fully empties would contribute no rows and its
      // stale directory would survive — find those (bounded by `buckets`)
      // and delete them explicitly after the write
      val survivedBuckets = next.select("bucket").distinct()
        .collect().map(_.getLong(0)).toSet
      graft.core.Sessions.withConf(spark, "spark.sql.sources.partitionOverwriteMode" -> "dynamic") {
        // cluster by bucket before the partitioned write: without it every
        // shuffle task contributes a file to every touched bucket dir
        // (tasks × buckets tiny files)
        next.repartition(col("bucket")).write.mode("overwrite")
          .partitionBy("bucket").parquet(s"$cacheDir/live")
      }
      val emptied = deltaBuckets.filterNot(survivedBuckets)
      if (emptied.nonEmpty) {
        val fs = new org.apache.hadoop.fs.Path(s"$cacheDir/live")
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
        emptied.foreach { b =>
          fs.delete(new org.apache.hadoop.fs.Path(s"$cacheDir/live/bucket=$b"), true)
          ()
        }
      }
    }
  }

  /** Seed [[applyDeltaBatchBucketed]]'s live cache from a verdict frame
    * (`(idCol, h)` rows — e.g. [[perDocVerdicts]] of the base
    * snapshot), written bucketed so every bucket directory exists
    * before the first delta batch prunes into it. */
  def seedBucketedCache(
      cacheDir: String, verdicts: DataFrame, idCol: String,
      buckets: Int): Unit = {
    require(buckets >= 1, s"buckets must be >= 1: got $buckets")
    verdicts
      .withColumn("bucket", pmod(xxhash64(col(idCol)), lit(buckets.toLong)))
      // one file per bucket dir (see applyDeltaBatchBucketed's write)
      .repartition(col("bucket"))
      .write.mode("overwrite").partitionBy("bucket")
      .parquet(s"$cacheDir/live")
  }
}
