package graft.operators

import graft.functions.GraftFunctions.vec_cosine
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** Deduplication operators for training-data pipelines, each designed for
  * the 100 TB path:
  *
  *  - exact: one hash-shuffle on a 16-byte key (not the full document).
  *  - MinHash+LSH: signatures are per-row array expressions (no shuffle);
  *    the only shuffle is the band-bucket self-join, whose key cardinality
  *    is tunable via (numHashes, bands).
  *  - SimHash: per-row 64-bit signature; near-dup = same signature bucket
  *    (or Hamming ≤ k via multi-probe over rotated bands).
  *  - embedding cosine: LSH hyperplane buckets first, exact cosine only
  *    within buckets.
  */
object Dedup {

  /** Default per-token prefix-entry ceiling for
    * [[prefixFilterJaccardPairs]]'s salt grid: 4096 bounds a worst-case
    * grid cell at ~16M candidate comparisons — minutes of CPU, not
    * hours — while corpora whose prefix tokens all sit below it (the
    * large-vocabulary common case) never pay the grid. */
  val DefaultPrefixCeiling = 4096

  /** Exact dedup groups: content hash → representative id + multiplicity.
    * Shuffles only (hash, id) — at 100 TB the wide text column is pruned
    * before the exchange. */
  def exactGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(md5(col(textCol)).as("h"), col(idCol))
      .groupBy("h")
      .agg(min(idCol).as("keep_id"), count(lit(1)).as("n"))

  /** Keep one representative row per distinct content. */
  def exactDedup(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val w = Window.partitionBy(md5(col(textCol))).orderBy(col(idCol))
    df.withColumn("rn", row_number().over(w)).filter(col("rn") === 1).drop("rn")
  }

  /** The engine tokenizer WITH multiplicity: lower-cased single-space
    * split, empty tokens dropped — ragged whitespace ("a  b") therefore
    * contributes no phantom `""` feature. Same convention as
    * [[BpeTrain]]'s pair counting; [[tokenSet]] is its distinct view, so
    * set-semantics operators (d18's Jaccard family) and
    * bag-semantics operators (d20's weighted cosine) share one
    * vocabulary by construction.
    *
    * Two-family convention (every DuckDB oracle mirrors its side):
    * set/bag operators use this empty-dropping view
    * (`list_filter(string_split(...), x -> x <> '')` in their oracles —
    * d3/d4/d6/d8/d18/d20/t39); POSITIONAL operators ([[shingles]],
    * [[Shingles.winnow]], [[repeatedSpans]]) keep the raw split so
    * positions index the array the codegen kernels walk. */
  def tokens(text: Column): Column =
    filter(split(lower(text), " "), t => t =!= "")

  /** Distinct lower-cased tokens ([[tokens]] deduplicated). */
  def tokenSet(text: Column): Column =
    array_distinct(tokens(text))

  /** `w`-shingles over the token array (n-gram units for Jaccard).
    * Codegen'd single-pass kernel ([[WordShingles]]): the composed
    * transform/slice/concat_ws formula it replaces was an interpreted
    * higher-order lambda — the dominant per-row cost of the LSH dedup
    * pipeline. Semantics identical (equivalence-tested). */
  def shingles(text: Column, w: Int): Column = Shingles.of(text, w)

  /** Token-overlap candidate pairs via inverted-index self-join, with a
    * document-frequency ceiling: a token appearing in `df` documents
    * contributes O(df²) join pairs, so one stop-word-grade token makes the
    * self-join quadratic in the corpus. Tokens with DF > `maxDf` are
    * dropped BEFORE the join (they carry no dedup signal anyway — overlap
    * on "the" says nothing). The hot-token set is tiny by construction →
    * broadcast anti-join, no extra shuffle of the posting list. */
  def tokenOverlapPairs(
      df: DataFrame, idCol: String, textCol: String,
      minCommon: Int, maxDf: Long): DataFrame = {
    val tok = df
      .select(col(idCol).as("id"), explode(tokenSet(col(textCol))).as("w"))
      .distinct()
    val hot = tok.groupBy("w").agg(count(lit(1)).as("df"))
      .filter(col("df") > maxDf)
      .select("w")
    // NB: a USING join reorders columns (join key first) — select explicitly
    val posting = tok.join(broadcast(hot), Seq("w"), "left_anti")
      .select(col("id"), col("w"))
    val a = posting.select(col("id").as("d1"), col("w"))
    val b = posting.select(col("id").as("d2"), col("w"))
    a.join(b, Seq("w"))
      .filter(col("d1") < col("d2"))
      .groupBy("d1", "d2")
      .agg(count(lit(1)).as("common"))
      .filter(col("common") >= minCommon)
  }

  /** MinHash signature as `numHashes` min-of-keyed-hash values — computed
    * entirely per row, zero shuffle. md5 variant: oracle-parity (DuckDB
    * md5 is identical); since round 7 the VALUE comes from the
    * single-pass [[MinHash.md5Signature]] kernel rather than k
    * interpreted `array_min(transform(md5))` lambdas (parity
    * unit-tested; whole-stage CSE collapses the k element_at reads to
    * one kernel call, the [[minhashSignature]] precedent). */
  def minhashSignatureMd5(tokens: Column, numHashes: Int): Seq[Column] = {
    val sig = MinHash.md5Signature(tokens, numHashes)
    (1 to numHashes).map(i => element_at(sig, i).as(s"mh$i"))
  }

  /** Scale-path signature: single-pass codegen'd [[MinHashSignature]]
    * expression (all k mins in one loop over the token bytes). */
  def minhashSignature(tokens: Column, numHashes: Int): Seq[Column] = {
    val sig = MinHash.signature(tokens, numHashes)
    (1 to numHashes).map(i => element_at(sig, i).as(s"mh$i"))
  }

  /** LSH candidate pairs: documents whose signatures collide on at least
    * one band of `rowsPerBand` consecutive hashes. The self-join key is the
    * (band index, band hash) pair — this is the standard
    * shingle→minhash→band→bucket-join plan and the only shuffle in the op.
    *
    * `md5Parity = true` swaps both hash families for md5 (signature mins =
    * min md5 of seeded shingle, band hash = md5 of the '|'-joined
    * signature slice) — byte-identical to an ANSI-SQL oracle, so the full
    * LSH pipeline is hash-checkable against DuckDB. The default xxhash64
    * codegen kernel remains the scale path (one pass over the token bytes
    * vs k interpreted md5 lambdas per row).
    *
    * Documents with NO shingle/token units are dropped before signing:
    * their signature is degenerate (every hash = the empty-set sentinel),
    * so ALL of them would land in one bucket — a corpus with many
    * below-width documents would otherwise go quadratic in the self-join.
    * An empty set has no Jaccard evidence to offer anyway.
    *
    * The returned pair frame is PERSISTED and materialized (caller-owned:
    * unpersist when done); the internal bucket frame is released before
    * returning, so nothing corpus-sized leaks into the session cache.
    */
  def minhashCandidatePairs(
      df: DataFrame, idCol: String, textCol: String,
      numHashes: Int, rowsPerBand: Int, shingleWidth: Int = 1,
      md5Parity: Boolean = false,
      /** Hot-bucket ceiling: buckets with more members than this switch
        * from all-pairs to an id-ordered CHAIN of edges (O(n) candidates
        * instead of n²/2) — see the guard comment at the self-join. */
      maxBucketAllPairs: Int = 1024): DataFrame = {
    def mkBuckets(in: DataFrame, fanOut: Boolean) = bandBuckets(
      in, idCol, textCol, numHashes, rowsPerBand, shingleWidth, md5Parity, fanOut)
    val buckets = mkBuckets(df, fanOut = true)
    // Hot-bucket guard: a legitimate mega-cluster (100k copies of a
    // boilerplate page — every real crawl corpus has some) lands in ONE
    // bucket, and an unconditional all-pairs self-join would emit ~n²/2
    // candidates there before distinct() — 5×10⁹ rows for n=100k.
    // Buckets above `maxBucketAllPairs` therefore emit an id-ordered
    // CHAIN of edges (member i ↔ member i+1): O(n) candidates that still
    // connect the whole bucket, so the connected-components verdict for
    // a true duplicate cluster is unchanged. What is given up is only
    // candidate completeness INSIDE an oversized bucket (a pair similar
    // to each other but not to their chain neighbors can be missed);
    // the mega-buckets that trigger this are boilerplate clusters whose
    // members are mutually near-identical, so the chain verifies
    // through. Small buckets keep exact all-pairs semantics — outputs
    // at oracle scale are byte-identical to the uncapped op.
    //
    // The existence question is answered by [[sampledHotProbe]] — a
    // seeded 2% input sample, ~2% of one signature pass — so the CLEAN
    // path (no hot bucket, the overwhelmingly common case) runs the
    // original single-shuffle self-join with no persist, no window, no
    // full-corpus size aggregation: at bench scale AQE broadcasts it; at
    // cluster scale it is the same SMJ the guard plan would run. Only a
    // probe HIT engages the guarded plan, where the EXACT per-bucket
    // size decides chain-vs-all-pairs (the probe's sampling error can
    // only cost performance, never change which bucket gets chained —
    // a missed marginal bucket just runs complete all-pairs).
    val pairs = if (!sampledHotProbe(mkBuckets(_, false), df, Seq("band", "bh"), maxBucketAllPairs)) {
      val a = buckets.as("a")
      val b = buckets.as("b")
      a.join(b, col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
          col("a.id") < col("b.id"))
        .select(col("a.id").as("d1"), col("b.id").as("d2"))
        .distinct()
    } else {
      // Unified guarded plan: ONE exchange on (band, bh) + one sort by id
      // serves the per-bucket size (windowed count), the small-bucket
      // all-pairs join (partitioning + (band, bh)-prefix ordering already
      // satisfied — no new exchange or sort), and the hot chain (lag over
      // the same sorted frame); ReuseExchange dedupes the three
      // consumers, so signatures compute once. Hot keys never reach the
      // equi-join: both inputs filter to `__bn <= ceiling` BEFORE it, so
      // no task ever holds a quadratic build side.
      val w = Window.partitionBy("band", "bh").orderBy("id")
      val sized = buckets
        .withColumn("__bn", count(lit(1)).over(
          w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
        .withColumn("__prev", lag("id", 1).over(w))
      val small = sized.filter(col("__bn") <= maxBucketAllPairs)
        .select("id", "band", "bh")
      val a = small.as("a")
      val b = small.as("b")
      val smallPairs = a
        .join(b, col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
          col("a.id") < col("b.id"))
        .select(col("a.id").as("d1"), col("b.id").as("d2"))
      val bigPairs = sized
        .filter(col("__bn") > maxBucketAllPairs && col("__prev").isNotNull)
        .select(col("__prev").as("d1"), col("id").as("d2"))
      smallPairs.union(bigPairs).distinct()
    }
    materializeAndRelease(pairs)
  }

  /** PUBLIC view of [[bandBuckets]]: the (id, band, bh) LSH band rows as
    * a CACHEABLE per-doc asset — a pure per-row function of (id, text),
    * which is what lets [[IncrementalCurate.incrementalNearDupPairs]]
    * carry unchanged docs' rows across snapshots (the d22 verdict-cache
    * idea applied to the near-dup stage: on a 2% delta, 98% of the
    * signature work — the expensive shingle+MinHash passes — is a cache
    * read of id + band-hash rows, never the texts). */
  def minhashBandRows(
      df: DataFrame, idCol: String, textCol: String,
      numHashes: Int, rowsPerBand: Int, shingleWidth: Int = 1,
      md5Parity: Boolean = false): DataFrame =
    bandBuckets(df, idCol, textCol, numHashes, rowsPerBand, shingleWidth,
      md5Parity)

  /** The all-pairs-within-buckets join half of [[minhashCandidatePairs]]
    * over a PRE-BUILT (id, band, bh) frame — exposed for callers that
    * maintain band rows incrementally. Clean-path semantics (no hot
    * chain): the pairing rule must be a pure function of bucket
    * membership for the incremental identity to hold; corpora hot
    * enough to need the chain guard should full-recompute through
    * [[minhashCandidatePairs]]. */
  def pairsFromBandRows(bandRows: DataFrame): DataFrame = {
    val a = bandRows.as("a")
    val b = bandRows.as("b")
    a.join(b, col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
        col("a.id") < col("b.id"))
      .select(col("a.id").as("d1"), col("b.id").as("d2"))
      .distinct()
  }

  /** (id, band, bh) LSH band-bucket rows for a corpus — the shared front
    * half of [[minhashCandidatePairs]] (self-join) and [[nearDupAgainst]]
    * (cross-corpus join): per-row MinHash signature (single-pass kernel,
    * md5 family when `md5Parity`), sliced into `numHashes / rowsPerBand`
    * band hashes, exploded one row per band. No shuffle — signatures and
    * band hashes are row-local expressions. */
  private def bandBuckets(
      df: DataFrame, idCol: String, textCol: String,
      numHashes: Int, rowsPerBand: Int, shingleWidth: Int,
      md5Parity: Boolean, fanOut: Boolean = true): DataFrame = {
    require(numHashes % rowsPerBand == 0,
      s"numHashes ($numHashes) must be a multiple of rowsPerBand " +
        s"($rowsPerBand) — trailing hashes would be computed but belong to " +
        "no band, silently lowering recall")
    val units =
      if (shingleWidth <= 1) tokenSet(col(textCol)) else shingles(col(textCol), shingleWidth)
    // Small inputs (one parquet file) arrive as one partition; fan the
    // heavy per-row signature compute across all cores first (at scale a
    // many-file input skips the exchange — [[Fan.scan]]). (`fanOut =
    // false` skips it unconditionally — the probe's 2% sample does not
    // need it and saves a whole shuffle stage per call)
    val fanned = if (fanOut) Fan.scan(df) else df
    val withUnits = fanned
      .select(col(idCol).as("id"), units.as("units"))
      .filter(size(col("units")) > 0)
    val sig =
      if (md5Parity)
        // two-step select like the scale path below: the projection
        // boundary materializes the k-wide kernel signature ONCE per row
        // — k bare element_at(kernel, i) columns would re-run the kernel
        // per reference (CSE does not reach across the later band
        // filters), k-tupling the md5 work
        withUnits
          .select(col("id"), MinHash.md5Signature(col("units"), numHashes).as("sig"))
          .select(col("id") +: (1 to numHashes).map(i => element_at(col("sig"), i).as(s"mh$i")): _*)
      else
        withUnits
          .select(col("id"), MinHash.signature(col("units"), numHashes).as("sig"))
          .select(col("id") +: (1 to numHashes).map(i => element_at(col("sig"), i).as(s"mh$i")): _*)
    val nBands = numHashes / rowsPerBand
    val bands = (0 until nBands).map { b =>
      val cols = (b * rowsPerBand + 1 to (b + 1) * rowsPerBand).map(i => col(s"mh$i"))
      val bh = if (md5Parity) md5(concat_ws("|", cols: _*)) else xxhash64(cols: _*)
      struct(lit(b).as("band"), bh.as("bh"))
    }
    sig
      .select(col("id"), explode(array(bands: _*)).as("bk"))
      .select(col("id"), col("bk.band").as("band"), col("bk.bh").as("bh"))
  }

  /** Cross-corpus (incremental) EXACT dedup — the new-snapshot-vs-
    * existing-corpus sweep every production pipeline runs before
    * within-corpus dedup: drop rows of `df` whose content hash already
    * exists in `reference`. One 16-byte-key anti-join; at 100 TB the
    * reference side is the pre-materialized hash column of the at-rest
    * corpus, so the sweep never touches reference text. */
  def exactDedupAgainst(
      df: DataFrame, reference: DataFrame, idCol: String, textCol: String): DataFrame =
    df.join(
      reference.select(md5(col(textCol)).as("__h")).distinct(),
      md5(df(textCol)) === col("__h"), "left_anti")

  /** [[exactDedupAgainst]] through a BLOOM PRE-FILTER — the 100 TB shape
    * for "new batch vs at-rest corpus": the reference's content-hash
    * Bloom bits broadcast everywhere (≈ m/8 bytes total — megabytes for
    * billions of docs, vs an anti-join whose reference side is the
    * full hash column), rows failing ANY bit are DEFINITELY novel
    * (Bloom has no false negatives) and bypass the join entirely; only
    * the maybe-set — true dups plus the FP-rate sliver — pays the
    * anti-join. The result is EXACTLY exactDedupAgainst's (the d14
    * oracle-equality claim): the filter is lossless pruning, never a
    * correctness trade. At the default m=2²⁰/k=4 and 1M reference
    * docs the FP rate is ≈ (1−e^(−4/1.05))⁴ ≈ 0.9 — size m ≈ 10–15
    * bits/doc for the classic ~0.1–1% (the m parameter exists for
    * exactly that). */
  def exactDedupAgainstBloom(
      df: DataFrame, reference: DataFrame, idCol: String, textCol: String,
      m: Int = 1 << 20, k: Int = 4): DataFrame = {
    val refH = reference.select(md5(col(textCol)).as("__rh")).distinct()
    val bloom = BloomSet.build(refH, "__rh", m, k)
    val flagged = BloomSet.mightContain(
      df.withColumn("__h", md5(col(textCol))), "__h", bloom, m, k, "__maybe")
    val definitelyNovel = flagged.filter(!col("__maybe"))
    val verified = flagged.filter(col("__maybe"))
      .join(refH, col("__h") === col("__rh"), "left_anti")
    definitelyNovel.unionByName(verified)
      .drop("__h", "__maybe")
  }

  /** Cross-corpus NEAR-dup verdicts — MinHash-LSH against a REFERENCE
    * corpus instead of a self-join: new docs bucket-join the reference's
    * band buckets, exact shingle-Jaccard confirms, and each new doc gets
    * `(idCol, dup_of, is_dup)` where `dup_of` is the smallest confirmed
    * reference id (NULL → novel). Compose with [[nearDupGroups]] for the
    * within-df sweep; this operator answers "is it already in the
    * corpus?".
    *
    * `refPerBucketCap` is the cross-corpus hot-bucket guard (the d4
    * `maxDf` shape): a boilerplate bucket on BOTH sides would go
    * |new|×|ref| quadratic, but ONE confirmed reference match settles a
    * verdict, so each reference bucket keeps only its first
    * `refPerBucketCap` members by the deterministic (md5(id), id) rank.
    * The default far exceeds any oracle-scale bucket, so test outputs
    * are cap-free; size it to O(100) for crawl-scale sweeps. The cap
    * window only enters the plan when the [[sampledHotProbe]] sees a
    * reference bucket near the cap — the common no-hot-bucket sweep
    * never pays the reference-wide sort. */
  def nearDupAgainst(
      df: DataFrame, reference: DataFrame, idCol: String, textCol: String,
      numHashes: Int = 8, rowsPerBand: Int = 4, shingleW: Int = 3,
      jaccardThreshold: Double = 0.8, md5Parity: Boolean = false,
      refPerBucketCap: Int = 10000): DataFrame = {
    val newB = bandBuckets(
      df, idCol, textCol, numHashes, rowsPerBand, shingleW, md5Parity).persist()
    val wb = Window.partitionBy("band", "bh")
      .orderBy(md5(col("id").cast("string")), col("id"))
    def mkRefBuckets(in: DataFrame, fanOut: Boolean) = bandBuckets(
      in, idCol, textCol, numHashes, rowsPerBand, shingleW, md5Parity, fanOut)
    val refHasHot = sampledHotProbe(
      mkRefBuckets(_, false), reference, Seq("band", "bh"), refPerBucketCap)
    val refB0 = mkRefBuckets(reference, fanOut = true)
    val refB = (if (!refHasHot) refB0
      else refB0
        .withColumn("__rk", row_number().over(wb))
        .filter(col("__rk") <= refPerBucketCap)
        .drop("__rk"))
      .persist()
    val cands = newB.as("n")
      .join(refB.as("r"),
        col("n.band") === col("r.band") && col("n.bh") === col("r.bh"))
      .select(col("n.id").as("new_id"), col("r.id").as("ref_id"))
      .distinct()
    val shNew = Fan.scan(df)
      .select(col(idCol).as("new_id"), shingles(col(textCol), shingleW).as("__shn"))
    val shRef = Fan.scan(reference)
      .select(col(idCol).as("ref_id"), shingles(col(textCol), shingleW).as("__shr"))
    val confirmed = cands
      .join(shNew, Seq("new_id"))
      .join(shRef, Seq("ref_id"))
      .select(col("new_id"), col("ref_id"),
        (size(array_intersect(col("__shn"), col("__shr"))).cast("double") /
          size(array_union(col("__shn"), col("__shr")))).as("jaccard"))
      .filter(col("jaccard") >= jaccardThreshold)
      .groupBy("new_id")
      .agg(min("ref_id").as("dup_of"))
    val out = df.select(col(idCol).cast("long").as("new_id"))
      .join(confirmed, Seq("new_id"), "left")
      .select(
        col("new_id").as(idCol),
        col("dup_of"),
        col("dup_of").isNotNull.as("is_dup"))
    materializeAndRelease(out, newB, refB)
  }

  /** Persist-hygiene helper for ops whose result needs a TEMP persisted
    * frame: materialize the (small) result into the cache with one bounded
    * action, then release the temp immediately — nothing upstream leaks
    * into the caller's session. The RETURNED frame is persisted and
    * caller-owned: unpersist it when done (it is the candidate-pair set,
    * orders of magnitude smaller than the corpus). */
  private def materializeAndRelease(result: DataFrame, temps: DataFrame*): DataFrame = {
    result.persist()
    // the eager count() exists ONLY to pin the result before its temps
    // are released — with no temps the persist stays LAZY (first consumer
    // materializes it), saving a whole extra evaluation for
    // single-consumer callers
    if (temps.nonEmpty) {
      result.count()
      temps.foreach(_.unpersist(blocking = false))
    }
    result
  }

  /** Exact n-gram Jaccard similarity for a pair-candidates frame: join the
    * shingle sets back and compute |∩|/|∪| with array intrinsics. */
  def jaccardForPairs(
      pairs: DataFrame, df: DataFrame, idCol: String, textCol: String,
      shingleW: Int): DataFrame =
    jaccardWithShingles(
      pairs, df.select(col(idCol).as("id"), shingles(col(textCol), shingleW).as("sh")))

  /** Jaccard over a precomputed `(id, sh)` shingle frame — `sh` is joined
    * TWICE (d1 side and d2 side), so callers that own the frame should
    * persist it to halve the shingle compute. */
  def jaccardWithShingles(pairs: DataFrame, sh: DataFrame): DataFrame =
    pairs
      .join(sh.withColumnRenamed("id", "d1").withColumnRenamed("sh", "sh1"), "d1")
      .join(sh.withColumnRenamed("id", "d2").withColumnRenamed("sh", "sh2"), "d2")
      .withColumn(
        "jaccard",
        size(array_intersect(col("sh1"), col("sh2"))).cast("double") /
          size(array_union(col("sh1"), col("sh2"))))
      .select("d1", "d2", "jaccard")

  /** Full near-dup grouping pipeline: MinHash-LSH candidates → exact
    * shingle-Jaccard ≥ threshold → connected components → (id, group,
    * is_representative). Docs with no near-dup get their own group.
    * `md5Parity` selects the oracle-checkable md5 LSH hash family (see
    * [[minhashCandidatePairs]]); everything downstream of candidate
    * generation (Jaccard, components) is hash-family-agnostic. */
  def nearDupGroups(
      df: DataFrame, idCol: String, textCol: String,
      numHashes: Int = 8, rowsPerBand: Int = 4, shingleW: Int = 3,
      jaccardThreshold: Double = 0.8, md5Parity: Boolean = false): DataFrame = {
    // persist every frame that is consumed more than once downstream:
    // candidates arrive persisted+materialized from minhashCandidatePairs,
    // the shingle frame is joined twice (d1/d2 side), and confirmed drives
    // the component loop — without these the LSH pipeline re-runs per
    // consumer. ALL temps are released before returning.
    val candidates =
      minhashCandidatePairs(df, idCol, textCol, numHashes, rowsPerBand, shingleW, md5Parity)
    // fan out BEFORE the shingle compute, for the same reason
    // minhashCandidatePairs does: a single-file input arrives as one
    // partition and the per-row shingling would run single-threaded
    val sh = Fan.scan(df)
      .select(col(idCol).as("id"), shingles(col(textCol), shingleW).as("sh"))
      .persist()
    val confirmed = jaccardWithShingles(candidates, sh)
      .filter(col("jaccard") >= jaccardThreshold)
      .select("d1", "d2")
      .persist()
    val comps = Graph.connectedComponents(confirmed, "d1", "d2") // materializes `confirmed`
    candidates.unpersist(blocking = false)
    sh.unpersist(blocking = false)
    // comps is either a driver-local frame (union-find path) or
    // localCheckpoint-backed (distributed path) — neither holds a
    // cacheManager entry, so the result is leak-free without extra actions
    val out = groupsFrom(df, idCol, comps)
    confirmed.unpersist(blocking = false)
    out
  }

  /** (idCol, group, is_representative) for every row of `df` from the
    * [[Graph.connectedComponents]] labels of its near-dup pairs: a doc in
    * no pair is its own group. */
  private def groupsFrom(df: DataFrame, idCol: String, comps: DataFrame): DataFrame =
    df.select(col(idCol).as("id"))
      .join(comps.select(col("node").as("id"), col("label").as("component")),
        Seq("id"), "left")
      .select(
        col("id").as(idCol),
        coalesce(col("component"), col("id")).as("group"))
      .withColumn("is_representative", col(idCol) === col("group"))

  /** Embedding-cosine near-dup: hyperplane-LSH bucket (see
    * [[Similarity.hyperplaneSignature]]) then exact cosine within bucket.
    * Returns pairs with cosine ≥ threshold — persisted and materialized
    * (caller-owned); the bucket temp is released before returning. */
  def embeddingNearDupPairs(
      df: DataFrame, idCol: String, vecCol: String,
      planes: Int, seed: Long, threshold: Double, bands: Int = 1,
      /** md5-derived ±1 plane family for oracle parity (the declared d7
        * query); JVM-seeded Gaussian stays the default scale path. */
      md5Family: Boolean = false,
      /** Hot-bucket ceiling — same guard as [[minhashCandidatePairs]]:
        * oversized buckets emit an id-ordered chain instead of all
        * pairs. */
      maxBucketAllPairs: Int = 1024): DataFrame = {
    // multiple independent hyperplane signatures (different seeds): a
    // near-dup pair straddling one band's hyperplane still collides in
    // another band — recall compounds as 1-(1-p)^bands
    val dim = Similarity.dimOf(df, vecCol)
    val sigCols = (0 until bands).map { b =>
      struct(lit(b).as("band"),
        Similarity.hyperplaneSignature(col(vecCol), dim, planes, seed + b, md5Family)
          .as("sig"))
        .as(s"sig$b")
    }
    // fan out before the signature compute (bands × planes × dim dot
    // products per row): a single-file input is one partition otherwise
    def mkBuckets(in: DataFrame, fanOut: Boolean) = {
      val fanned = if (fanOut) Fan.scan(in) else in
      fanned
        .select((col(idCol).as("id") +: col(vecCol).as("v") +: sigCols): _*)
        .select(col("id"), col("v"),
          explode(array((0 until bands).map(b => col(s"sig$b")): _*)).as("bk"))
        .select(col("id"), col("v"), col("bk.band").as("band"), col("bk.sig").as("sig"))
    }
    val buckets = mkBuckets(df, fanOut = true)
    // Hot-bucket guard (see [[minhashCandidatePairs]] for the full
    // rationale): the [[sampledHotProbe]] decides hot-vs-clean from a
    // seeded 2%-class sample (the probe's aggregation prunes the vector
    // column — only (band, sig) enter its exchange). Clean path = the
    // original single-shuffle self-join, broadcast-able at small scale.
    // Probe hit = unified single-exchange guarded plan: one shuffle on
    // (band, sig) + one sort by id computes EXACT bucket sizes (windowed
    // count), feeds the small-bucket all-pairs join, and yields the hot
    // chain via lag over the same sorted frame. Hot keys are filtered
    // out of BOTH join inputs before the equi-join, so no task holds a
    // quadratic build side. vec_cosine is arithmetically symmetric, so
    // cosine(prev, cur) on the chain matches the (smaller-id, larger-id)
    // orientation of the all-pairs branch bitwise.
    val pairs0 =
      if (!sampledHotProbe(mkBuckets(_, false), df, Seq("band", "sig"), maxBucketAllPairs)) {
        val a = buckets.as("a")
        val b = buckets.as("b")
        a.join(b, col("a.band") === col("b.band") && col("a.sig") === col("b.sig") &&
            col("a.id") < col("b.id"))
          .select(col("a.id").as("d1"), col("b.id").as("d2"),
            vec_cosine(col("a.v"), col("b.v")).as("cosine"))
          .distinct()
      } else {
        val w = Window.partitionBy("band", "sig").orderBy("id")
        val sized = buckets
          .withColumn("__bn", count(lit(1)).over(
            w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
          .withColumn("__pid", lag("id", 1).over(w))
          .withColumn("__pv", lag("v", 1).over(w))
        val small = sized.filter(col("__bn") <= maxBucketAllPairs)
          .select("id", "band", "sig", "v")
        val a = small.as("a")
        val b = small.as("b")
        val smallPairs = a
          .join(b, col("a.band") === col("b.band") && col("a.sig") === col("b.sig") &&
            col("a.id") < col("b.id"))
          .select(col("a.id").as("d1"), col("b.id").as("d2"),
            vec_cosine(col("a.v"), col("b.v")).as("cosine"))
        val bigPairs = sized
          .filter(col("__bn") > maxBucketAllPairs && col("__pid").isNotNull)
          .select(col("__pid").as("d1"), col("id").as("d2"),
            vec_cosine(col("__pv"), col("v")).as("cosine"))
        smallPairs.union(bigPairs).distinct()
      }
    materializeAndRelease(pairs0.filter(col("cosine") >= threshold))
  }

  /** IMAGE near-dup candidate pairs over perceptual aHash signatures
    * ([[Multimodal.decodeImageAHashBatched]]'s output — real decoded
    * pixels, mean-threshold bits) — the SimHash banded-Hamming plan
    * pointed at pixels: rotate `bands` bit-slices over the 64-bit
    * signature, bucket on (width, height, band, slice), exact
    * `bit_count(a XOR b) <= maxHamming` within buckets.
    *
    * For `maxHamming <= bands - 1` the candidate set is COMPLETE, not
    * probabilistic (pigeonhole: k differing bits dirty at most k of the
    * `bands` slices, so at least one slice matches exactly) — the m12
    * gate runs in that regime, so its output is the exact set of
    * near-dup pairs. Larger thresholds degrade gracefully to the usual
    * LSH recall trade.
    *
    * (width, height) rides in the join key: Hamming over aHash is only
    * meaningful between same-grid images. Production images resize to a
    * fixed 8×8 grid first (the [[Multimodal]] contract), making all 64
    * bits informative; small native grids leave high slices all-zero,
    * which the dimension key keeps from pairing ACROSS sizes, though
    * same-size images all collide in their empty slices — harmless for
    * correctness (the Hamming verify is exact) and bounded by the same
    * hot-bucket chain guard as the text paths (a mega-cluster of
    * identical images is the expected hot case; chained buckets trade
    * in-bucket completeness for O(n) candidates, as everywhere else).
    * Undecodable images (null hash) are dropped before bucketing.
    * Output: (d1, d2, hamming), d1 < d2, persisted (caller releases). */
  def imageNearDupPairs(
      images: DataFrame, idCol: String,
      widthCol: String, heightCol: String, hashCol: String,
      maxHamming: Int, bands: Int = 4,
      maxBucketAllPairs: Int = 1024): DataFrame = {
    require(maxHamming >= 0, s"maxHamming must be >= 0: got $maxHamming")
    require(bands >= 1 && 64 % bands == 0,
      s"bands must divide 64: got $bands")
    val bandBits = 64 / bands
    val mask = if (bandBits == 64) -1L else (1L << bandBits) - 1L
    def buckets(in: DataFrame, fanOut: Boolean) = {
      val fanned = if (fanOut) Fan.scan(in) else in
      fanned
        .filter(col(hashCol).isNotNull)
        .select(col(idCol).as("id"), col(widthCol).as("w"),
          col(heightCol).as("h"), col(hashCol).cast("long").as("sig"))
        .select(col("id"), col("w"), col("h"), col("sig"),
          posexplode(array((0 until bands).map(b =>
            shiftright(col("sig"), b * bandBits).bitwiseAND(lit(mask))): _*)))
        .withColumnRenamed("pos", "band")
        .withColumnRenamed("col", "slice")
    }
    val bk = buckets(images, fanOut = true)
    val keyCols = Seq("w", "h", "band", "slice")
    val ham = bit_count(col("a.sig").bitwiseXOR(col("b.sig"))).cast("int")
    val pairs0 =
      if (!sampledHotProbe(buckets(_, false), images, keyCols, maxBucketAllPairs)) {
        val a = bk.as("a")
        val b = bk.as("b")
        a.join(b, col("a.w") === col("b.w") && col("a.h") === col("b.h") &&
            col("a.band") === col("b.band") && col("a.slice") === col("b.slice") &&
            col("a.id") < col("b.id"))
          .select(col("a.id").as("d1"), col("b.id").as("d2"), ham.as("hamming"))
          .distinct()
      } else {
        // unified guarded plan (see minhashCandidatePairs): one exchange
        // on the bucket key + one sort by id serves exact sizes, the
        // small-bucket all-pairs join, and the hot chain
        val w = Window.partitionBy(keyCols.map(col): _*).orderBy("id")
        val sized = bk
          .withColumn("__bn", count(lit(1)).over(
            w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
          .withColumn("__pid", lag("id", 1).over(w))
          .withColumn("__psig", lag("sig", 1).over(w))
        val small = sized.filter(col("__bn") <= maxBucketAllPairs)
          .select("id", "w", "h", "band", "slice", "sig")
        val a = small.as("a")
        val b = small.as("b")
        val smallPairs = a
          .join(b, col("a.w") === col("b.w") && col("a.h") === col("b.h") &&
            col("a.band") === col("b.band") && col("a.slice") === col("b.slice") &&
            col("a.id") < col("b.id"))
          .select(col("a.id").as("d1"), col("b.id").as("d2"), ham.as("hamming"))
        val bigPairs = sized
          .filter(col("__bn") > maxBucketAllPairs && col("__pid").isNotNull)
          .select(col("__pid").as("d1"), col("id").as("d2"),
            bit_count(col("__psig").bitwiseXOR(col("sig"))).cast("int").as("hamming"))
        smallPairs.union(bigPairs).distinct()
      }
    materializeAndRelease(pairs0.filter(col("hamming") <= maxHamming))
  }

  /** Probabilistic hot-bucket EXISTENCE probe: build buckets for a seeded
    * sample of the input and ask whether any sampled bucket's member count
    * crosses `ceiling · fraction / 2` (floor 8). The sample fraction
    * auto-scales to the ceiling (`max(0.02, 12/ceiling)`) so a bucket at
    * the ceiling lands ~12 expected sampled members — a true mega-bucket
    * (the guard's target: 10⁴–10⁵ members) crosses with probability ~1,
    * while at the default 1024 ceiling the probe costs ~2% of one
    * signature pass plus a narrow map-side-combined count. A marginal
    * bucket the sample misses costs only the complete all-pairs join for
    * that bucket (a few million rows at worst) — never a wrong verdict,
    * because the guarded plan re-checks EXACT sizes before chaining.
    * Fixed seed → deterministic verdict for a given input. */
  private def sampledHotProbe(
      mkBuckets: DataFrame => DataFrame, df: DataFrame,
      keyCols: Seq[String], ceiling: Int): Boolean = {
    val fraction = math.min(1.0, math.max(0.02, 12.0 / ceiling))
    val threshold = math.max(8.0, ceiling * fraction / 2)
    !mkBuckets(df.sample(withReplacement = false, fraction, 38L))
      .groupBy(keyCols.map(col): _*).agg(count(lit(1)).as("__n"))
      .filter(col("__n") > threshold)
      .isEmpty
  }

  /** SemDeDup-style semantic dedup (Abbas et al. 2023, arXiv:2303.09540):
    * embedding near-dup pairs ([[embeddingNearDupPairs]]: hyperplane-LSH
    * buckets, exact cosine ≥ threshold within bucket) → connected
    * components → one representative (min id) per semantic cluster.
    * Output mirrors [[nearDupGroups]]: (idCol, group, is_representative);
    * rows with `is_representative = false` are the semantic duplicates a
    * curation run drops. The 100 TB shape is the same as the text near-dup
    * pipeline: bucketing is per-row expressions, the only quadratic work
    * is within-bucket, and the component graph (confirmed near-dups only)
    * is orders of magnitude smaller than the corpus. */
  def semanticDedupGroups(
      df: DataFrame, idCol: String, vecCol: String,
      planes: Int, seed: Long, threshold: Double, bands: Int = 1,
      md5Family: Boolean = false): DataFrame = {
    // keep a handle on the PERSISTED frame — unpersist must target the
    // exact cached plan, not a .select derivative of it
    val cached = embeddingNearDupPairs(
      df, idCol, vecCol, planes, seed, threshold, bands, md5Family)
    val comps = Graph.connectedComponents(cached, "d1", "d2")
    cached.unpersist(blocking = false)
    groupsFrom(df, idCol, comps)
  }

  /** Non-overlapping `chunkTokens`-token chunks of a document, with their
    * 0-based chunk index — the explode side of [[chunkDedup]]. A document
    * with fewer than one full chunk still yields its (short) chunk 0;
    * empty documents yield no rows. */
  def docChunks(
      df: DataFrame, idCol: String, textCol: String, chunkTokens: Int): DataFrame =
    // single-pass [[Shingles.tokenChunks]] kernel (parity-tested against
    // the composed tokens → sequence/slice/concat_ws formula it replaced,
    // which ran three interpreted lambdas per row); empty/whitespace-only
    // docs chunk to [] and the explode emits no rows
    df.select(col(idCol).as("id"),
        posexplode(Shingles.tokenChunks(col(textCol), chunkTokens)))
      .withColumnRenamed("pos", "chunk_idx")
      .withColumnRenamed("col", "chunk")

  /** Sub-document (line/passage-level) exact dedup — the CCNet line-dedup
    * / Lee et al. 2022 ("Deduplicating Training Data Makes Language
    * Models Better", arXiv:2107.06499) substring-dedup shape at fixed
    * chunk granularity: split every document into non-overlapping
    * `chunkTokens`-token chunks, find chunks whose content repeats
    * ANYWHERE in the corpus, keep only the globally-first occurrence
    * (min (doc, idx) over the hash group), and reassemble each document
    * from its surviving chunks in order.
    *
    * Output: `(id, n_chunks, n_kept, text_dedup)` — `text_dedup` is NULL
    * when every chunk of the document was a repeat (the row a curation
    * run drops entirely).
    *
    * 100 TB shape: chunking is a per-row expression; the duplicate scan
    * shuffles only `(md5 hash, id, idx)` — 16 bytes + ints per chunk, the
    * wide text pruned before the exchange (same posture as
    * [[exactGroups]]); the reassembly is one groupBy on the document id.
    * No self-join: the "first occurrence" rule is a min-struct aggregate
    * over the hash group, then a join back on the hash — both sides
    * already hash-partitioned by the same key, so AQE elides the second
    * exchange. */
  /** WITHIN-document repeated-chunk removal — [[chunkDedup]]'s semantics
    * scoped to each document alone (drop a chunk iff the SAME document
    * already contained it): the self-repetition scrubber for
    * generation-loop artifacts and boilerplate stutter, complementing
    * the corpus-wide pass (which this never needs: no cross-document
    * state).
    *
    * 100 TB shape: ZERO shuffles — the entire rewrite is one scan-side
    * expression chain (chunk kernel → per-element "no earlier equal
    * chunk" HOF filter → reassembly), so it composes into any curation
    * scan for free. The earlier-chunk scan is O(chunks²) per document in
    * the worst case, bounded by document length — per-row work, never
    * cluster work. Same output contract as [[chunkDedup]]:
    * (id, n_chunks, n_kept, text_dedup), empty docs emit no rows. */
  def selfChunkDedup(
      df: DataFrame, idCol: String, textCol: String, chunkTokens: Int): DataFrame = {
    val chunks = Shingles.tokenChunks(col(textCol), chunkTokens)
    df.select(col(idCol), chunks.as("__chunks"))
      .filter(size(col("__chunks")) > 0)
      .select(col(idCol), col("__chunks"),
        filter(col("__chunks"), (x, i) =>
          !exists(slice(col("__chunks"), lit(1), i), y => y === x))
          .as("__kept"))
      .select(col(idCol),
        size(col("__chunks")).cast("long").as("n_chunks"),
        size(col("__kept")).cast("long").as("n_kept"),
        when(size(col("__kept")) > 0, concat_ws(" ", col("__kept")))
          .as("text_dedup"))
  }

  def chunkDedup(
      df: DataFrame, idCol: String, textCol: String, chunkTokens: Int): DataFrame =
    firstOccurrenceRewrite(docChunks(df, idCol, textCol, chunkTokens), idCol)

  /** Content-defined chunking (CDC) of a document at token granularity —
    * the dedup-storage boundary trick (LBFS, Muthitacharoen et al. SOSP
    * 2001; gear/FastCDC family) applied to text: a token CLOSES the
    * current chunk when `md5(token)` starts with hex '0' (P = 1/16 →
    * ~16-token expected chunks). Because boundaries depend only on LOCAL
    * content, an inserted or deleted token perturbs just the chunk it
    * touches — fixed-stride chunking ([[docChunks]]) shifts every later
    * boundary, so a one-token edit at the front makes every downstream
    * chunk "new" and repeated boilerplate stops deduplicating.
    *
    * Zero shuffle: the chunk array is ONE scan-side fold per row
    * (`aggregate` over the token array carrying (done chunks, current
    * chunk) state); empty/whitespace-only docs yield no chunks. */
  def cdcChunks(text: Column): Column = {
    val toks = filter(split(text, " "), t => t =!= "")
    aggregate(
      toks,
      struct(array().cast("array<string>").as("done"), lit("").as("cur")),
      (acc, t) => {
        val cur2 = when(acc.getField("cur") === "", t)
          .otherwise(concat(acc.getField("cur"), lit(" "), t))
        val isBoundary = substring(md5(t), 1, 1) === "0"
        struct(
          when(isBoundary, array_append(acc.getField("done"), cur2))
            .otherwise(acc.getField("done")).as("done"),
          when(isBoundary, lit("")).otherwise(cur2).as("cur"))
      },
      acc => when(acc.getField("cur") === "", acc.getField("done"))
        .otherwise(array_append(acc.getField("done"), acc.getField("cur"))))
  }

  /** [[chunkDedup]] on CONTENT-DEFINED chunks ([[cdcChunks]]) — same
    * output contract `(id, n_chunks, n_kept, text_dedup)`, same
    * first-occurrence rule, but repeated passages keep deduplicating
    * even when surrounding edits shift their token offsets. Same 100 TB
    * shape as [[chunkDedup]]: chunking is scan-side, the duplicate scan
    * shuffles only (16-byte hash, id, idx). */
  def cdcChunkDedup(df: DataFrame, idCol: String, textCol: String): DataFrame =
    firstOccurrenceRewrite(
      df.select(col(idCol).as("id"), posexplode(cdcChunks(col(textCol))))
        .withColumnRenamed("pos", "chunk_idx")
        .withColumnRenamed("col", "chunk"),
      idCol)

  /** The corpus-wide first-occurrence rewrite shared by [[chunkDedup]]
    * (fixed stride) and [[cdcChunkDedup]] (content-defined): keep each
    * distinct chunk's globally-first (id, idx) occurrence, reassemble
    * surviving chunks per document in order. `chunks0` is (id,
    * chunk_idx, chunk). */
  private def firstOccurrenceRewrite(chunks0: DataFrame, idCol: String): DataFrame = {
    // persisted: consumed twice (the first-occurrence aggregate and the
    // join-back side) — recomputing the tokenize+explode costs ~1.4× the
    // whole pipeline (measured at 200k docs). Released before returning;
    // the result arrives materialized+persisted (caller-owned).
    val chunks = chunks0
      .withColumn("h", md5(col("chunk")))
      .persist()
    // globally-first occurrence per distinct chunk content: min (id, idx)
    val first = chunks
      .groupBy("h")
      .agg(min(struct(col("id"), col("chunk_idx"))).as("f"))
      .select(col("h"), col("f.id").as("fid"), col("f.chunk_idx").as("fidx"))
    val kept = chunks.join(first, Seq("h"))
      .withColumn("keep", col("id") === col("fid") && col("chunk_idx") === col("fidx"))
    val out = kept
      .groupBy(col("id").as(idCol))
      .agg(
        count(lit(1)).as("n_chunks"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
        concat_ws(" ",
          transform(
            array_sort(collect_list(when(col("keep"),
              struct(col("chunk_idx"), col("chunk"))))),
            s => s.getField("chunk"))).as("text_cat"))
      .withColumn("text_dedup", when(col("n_kept") > 0, col("text_cat")))
      .drop("text_cat")
    materializeAndRelease(out, chunks)
  }

  /** Sorted-neighborhood blocking (Hernández & Stolfo 1995) — the
    * entity-resolution candidate generator that complements LSH: sort
    * records by a key, pair each record with its `window` predecessors.
    * Where MinHash needs token overlap, sort locality catches prefix
    * typos, truncations, and formatting drift in short keys (names,
    * titles, URLs).
    *
    * Distributed form: because the block is a PREFIX of the key, the
    * total order (key, id) already lays blocks out contiguously — so ONE
    * global `repartitionByRange(key, id)` + `sortWithinPartitions`
    * serves both the block gating and the neighborhood, and the range
    * partitioner's sampled split points bound EVERY task at ~n/p rows
    * regardless of how skewed the natural key prefixes are (English
    * titles pile onto a few letters; a per-block window would sort a
    * hot block in one unbounded task — the quadratic-family hazard the
    * LSH buckets and the interval-join salt grid already guard).
    * Partition boundaries are healed by a boundary exchange: each
    * partition ships its LAST `window` rows (p·window rows total — the
    * one bounded collect), and partition i seeds its sliding ring with
    * the last `window` rows of the full prefix before it, computable
    * from the tails alone (any prefix row missing from a tail is
    * followed by ≥ window same-partition rows, so it can never be a
    * cross-boundary predecessor). Pairs then come from one per-partition
    * sliding pass: each row pairs with the ring entries sharing its
    * block — exactly the per-block window's candidate set, independent
    * of where the sampled split points fell.
    *
    * Ordering is the total order (key, id), so candidates are
    * deterministic; output is (d1, d2) with d1 the earlier record in
    * sort order. Downstream verifies candidates with whatever exact
    * measure the pipeline wants (levenshtein, Jaccard) — blocking only
    * promises the candidate SET. */
  def sortedNeighborhoodPairs(
      df: DataFrame, idCol: String, keyCol: String,
      window: Int, blockLen: Int = 1): DataFrame = {
    require(window >= 1, s"window must be >= 1: $window")
    require(blockLen >= 1, s"blockLen must be >= 1: $blockLen")
    val spark = df.sparkSession
    val sorted = snmSorted(df, idCol, keyCol, blockLen).persist()
    // ONE physical RDD for both passes below: the tails job and the pairs
    // job must see the identical partition layout (a second .rdd would
    // re-plan and the range partitioner could re-sample different bounds)
    val rdd = sorted.rdd
    val nParts = math.max(1, rdd.getNumPartitions)
    // boundary exchange: last `window` (id, block) rows per partition —
    // p·window rows, the operator's only collect, bounded by config not data
    val tails: Array[Array[(Any, String)]] = {
      val collected = rdd.mapPartitionsWithIndex { (pi, it) =>
        val ring = new scala.collection.mutable.ArrayDeque[(Any, String)]()
        it.foreach { r =>
          ring.append((r.get(0), r.getString(2)))
          if (ring.size > window) ring.removeHead()
        }
        Iterator.single((pi, ring.toArray))
      }.collect()
      val byIdx = Array.fill(nParts)(Array.empty[(Any, String)])
      collected.foreach { case (pi, t) => byIdx(pi) = t }
      byIdx
    }
    val seeds = Array.fill(nParts)(Array.empty[(Any, String)])
    var acc = Vector.empty[(Any, String)]
    var i = 0
    while (i < nParts) {
      seeds(i) = acc.toArray
      acc = (acc ++ tails(i)).takeRight(window)
      i += 1
    }
    val seedsB = spark.sparkContext.broadcast(seeds)
    val idType = df.schema(idCol).dataType
    val outSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("d1", idType, nullable = true),
      org.apache.spark.sql.types.StructField("d2", idType, nullable = true)))
    val pairRdd = rdd.mapPartitionsWithIndex { (pi, it) =>
      val ring = new scala.collection.mutable.ArrayDeque[(Any, String)]()
      seedsB.value(pi).foreach(ring.append(_))
      it.flatMap { r =>
        val id = r.get(0)
        val blk = r.getString(2)
        val preds = ring.iterator
          .collect { case (pid, pblk) if pblk == blk => pid }.toArray
        ring.append((id, blk))
        if (ring.size > window) ring.removeHead()
        preds.iterator.map(d1 => org.apache.spark.sql.Row(d1, id))
      }
    }
    val out = materializeAndRelease(spark.createDataFrame(pairRdd, outSchema), sorted)
    // the pair frame is eagerly pinned above (temps nonEmpty forces the
    // count), so the executor copies of the seed broadcast can go;
    // unpersist (not destroy) keeps a cache-evicted recompute legal
    seedsB.unpersist(blocking = false)
    out
  }

  /** Prefix-filtered EXACT Jaccard self-join (the All-Pairs/PPJoin
    * family — Bayardo et al. 2007, Xiao et al. 2008) — the exact
    * set-similarity join that complements MinHash-LSH: LSH is
    * probabilistic (misses a (1−J^r)^b sliver of true pairs), prefix
    * filtering returns EVERY pair with J(x,y) ≥ τ and nothing else.
    *
    * Completeness argument: fix any global total order on tokens. If
    * J(x,y) ≥ τ then |x∩y| ≥ ⌈τ·|x|⌉ (since |x∪y| ≥ |x|); were x's
    * first |x|−⌈τ·|x|⌉+1 tokens disjoint from y, all common tokens
    * would fit in the remaining ⌈τ·|x|⌉−1 slots — contradiction. So the
    * smallest common token sits in BOTH docs' prefixes and the
    * prefix×prefix equi-join finds every qualifying pair. The order
    * used is (df ASC, token ASC) — rarest first — so prefixes index the
    * tokens fewest other documents carry and candidate volume collapses
    * toward output size instead of Σ df². The length filter
    * (τ·max(|x|,|y|) ≤ min — J ≥ τ forces it) prunes before the
    * distinct.
    *
    * τ is a RATIONAL `tauNum/tauDen`: prefix lengths use exact integer
    * ceil and the final verdict is the multiplied-through compare
    * `inter·den ≥ uni·num` — no float ever decides membership (the
    * hash-gate exactness convention). Scale shape: one token-keyed df
    * count (map-side combined), one doc-keyed sort_array agg (per-doc
    * lists, bounded by doc length), the prefix self-join (the candidate
    * generator), and a set-join verify on the survivors.
    *
    * SKEW GUARD. A token that is rare-RANKED yet still frequent (short
    * docs, low τ, or a vocabulary with a fat head) can land in many
    * prefixes, and the token-keyed equi self-join then piles its df²
    * candidate pairs into ONE task. The pair volume is inherent to
    * exactness — every one of those candidates must be length-checked —
    * but the pile-up is not: when any token's PREFIX-entry count
    * exceeds `ceiling`, the join switches to a salt grid (the
    * [[graft.operators.IntervalJoin]] family) that spreads each hot
    * token's candidates over ⌈cnt/ceiling⌉² cells, bounding per-task
    * pairs at ~ceiling². Salts are content-derived
    * (`xxhash64(id)` — ids are unique, so the spread is uniform AND
    * retry-stable; no checkpoint needed, unlike the interval grid whose
    * join values can collide). Detection is two-tier so the common case
    * pays nothing: a prefix count can exceed `ceiling` only if the
    * token's document frequency does, so tier 1 is one cheap aggregate
    * over the already-persisted tokenized frame; only when it fires is
    * the prefix table itself counted (tier 2) and the grid engaged.
    * Exactly-once: a co-prefixed pair (x,y) meets at precisely the cell
    * (salt(x), salt(y)) — cold tokens pin both salts to 0 with factor-1
    * replication (zero row growth). Honest scope: when the surviving
    * candidates are THEMSELVES quadratic (same-length docs sharing the
    * hot token), total work is inherent to exactness and the downstream
    * distinct + verify — keyed on the pair — parallelize identically
    * either way; what the grid removes is the unbounded single TASK in
    * candidate generation (the straggler/retry/2 GB-partition unit at
    * cluster scale), measured in isolation by the SCALE hostile phase.
    * Returns (d1, d2, inter, uni) with d1 < d2, inter/uni the exact
    * set sizes. */
  def prefixFilterJaccardPairs(
      df: DataFrame, idCol: String, textCol: String,
      tauNum: Long, tauDen: Long,
      ceiling: Int = DefaultPrefixCeiling): DataFrame = {
    val (cand, toks, gridTemps) =
      prefixCandidates(df, idCol, textCol, tauNum, tauDen, ceiling)
    val out = cand.distinct()
      .join(toks.select(col("id").as("d1"), col("ts").as("t1")), "d1")
      .join(toks.select(col("id").as("d2"), col("ts").as("t2")), "d2")
      .select(col("d1"), col("d2"),
        size(array_intersect(col("t1"), col("t2"))).cast("long").as("inter"),
        size(array_union(col("t1"), col("t2"))).cast("long").as("uni"))
      .filter(col("inter") * tauDen >= col("uni") * tauNum)
    materializeAndRelease(out, toks +: gridTemps: _*)
  }

  /** [[prefixFilterJaccardPairs]]'s candidate generator, pre-`distinct`
    * — exposed package-private so the SCALE stage can measure the one
    * thing the salt grid changes (per-TASK candidate rows and the
    * generation wall) in isolation from the shared downstream distinct
    * + verify, which key on the pair and parallelize identically either
    * way. Returns (candidates(d1,d2), persisted tokens frame, grid
    * temps); the caller owns releasing both. */
  private[graft] def prefixCandidates(
      df: DataFrame, idCol: String, textCol: String,
      tauNum: Long, tauDen: Long,
      ceiling: Int): (DataFrame, DataFrame, Seq[DataFrame]) = {
    require(tauNum > 0 && tauNum <= tauDen,
      s"tau must be in (0,1]: got $tauNum/$tauDen")
    require(ceiling >= 2, s"ceiling must be >= 2: got $ceiling")
    // persisted: the tokenized frame feeds the df count, the ordered
    // agg, AND both sides of the verify join — unpinned it would
    // re-tokenize the corpus four times; released by the final
    // materializeAndRelease
    val toks = df.select(col(idCol).as("id"), tokenSet(col(textCol)).as("ts"))
      .filter(size(col("ts")) > 0)
      .persist()
    val dfTab = toks.select(explode(col("ts")).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("df"))
    val ordered = toks.select(col("id"), explode(col("ts")).as("tok"))
      .join(dfTab, "tok")
      .groupBy("id")
      .agg(sort_array(collect_list(struct(col("df"), col("tok")))).as("ord"),
        count(lit(1)).as("n"))
    // p = n − ⌈τ·n⌉ + 1; ⌈num·n/den⌉ = floor((num·n + den − 1)/den) —
    // exact through the double floor while num·n < 2^53 (a per-DOC token
    // count times a small rational: unreachable in practice)
    val p = (col("n") -
      floor((col("n") * tauNum + tauDen - 1L) / tauDen).cast("long") + 1L)
      .cast("int")
    val prefix = ordered
      .select(col("id"), col("n"), explode(slice(col("ord"), lit(1), p)).as("pe"))
      .select(col("id"), col("n"), col("pe").getField("tok").as("tok"))
    val lenOk = col("a.n") * tauNum <= col("b.n") * tauDen &&
      col("b.n") * tauNum <= col("a.n") * tauDen
    // tier 1: df > ceiling is NECESSARY for a hot prefix token
    val mayBeHot = !dfTab.filter(col("df") > ceiling).isEmpty
    val (cand, gridTemps) =
      if (!mayBeHot) {
        val c = prefix.as("a")
          .join(prefix.as("b"),
            col("a.tok") === col("b.tok") && col("a.id") < col("b.id") && lenOk)
          .select(col("a.id").as("d1"), col("b.id").as("d2"))
        (c, Seq.empty[DataFrame])
      } else {
        val prefixP = prefix.persist()
        // tier 2: exact prefix-entry counts; hot list is tiny (each hot
        // token carries > ceiling entries) and rides a broadcast join
        val hot = prefixP.groupBy("tok").agg(count(lit(1)).as("__cnt"))
          .filter(col("__cnt") > ceiling)
          .select(col("tok"),
            floor((col("__cnt") + (ceiling - 1).toLong) / ceiling.toLong)
              .cast("long").as("__f"))
        def gridSide = prefixP.join(broadcast(hot), Seq("tok"), "left")
          .withColumn("__s",
            when(col("__f").isNull, lit(0L))
              .otherwise(pmod(xxhash64(col("id")), col("__f"))))
          .withColumn("__r",
            explode(sequence(lit(0L), coalesce(col("__f"), lit(1L)) - 1L)))
        val c = gridSide.as("a")
          .join(gridSide.as("b"),
            col("a.tok") === col("b.tok") &&
              col("a.__r") === col("b.__s") && col("b.__r") === col("a.__s") &&
              col("a.id") < col("b.id") && lenOk)
          .select(col("a.id").as("d1"), col("b.id").as("d2"))
        (c, Seq(prefixP))
      }
    (cand, toks, gridTemps)
  }

  /** Cross-document repeated n-gram SPAN removal (the substring-dedup
    * family — Lee et al. 2022, "Deduplicating Training Data Makes
    * Language Models Better": verbatim spans repeated across a corpus
    * are memorization fuel and train-time waste, and doc-level dedup
    * never sees them; remove the SPAN, keep the document). A w-gram
    * occurring ≥ `minOccur` times corpus-wide (multiplicity counts,
    * within- and cross-document) covers all w tokens of each of its
    * occurrences; a token covered by ANY repeated gram is dropped from
    * the rebuilt text. Returns per doc: `n_tokens`, `n_rep_starts`
    * (repeated-gram start positions), `covered_tokens`, `kept_text`
    * (uncovered tokens in order, "" when everything was covered).
    *
    * Tokenizer note — this is the POSITIONAL family: tokens here are the
    * RAW `split(lower(text), " ")` (phantom "" tokens from ragged
    * whitespace kept and counted), NOT [[tokens]]'s empty-dropping view.
    * Deliberate: `pos` must index the same array the [[Shingles.all]]
    * kernel shingles over (raw-split parity, [[ShingleUtil]]), or the
    * repeated-start join would mark the wrong tokens. Set/bag-semantics
    * operators (d18/d20 and every [[tokenSet]] consumer) drop empties;
    * span/shingle/winnow operators count them as positions. The gated
    * d19 oracle mirrors the raw split in lockstep.
    *
    * Scale shape: grams ride the single-pass [[Shingles.all]] codegen
    * kernel (the posexplode index IS the start position — no per-start
    * slice); the occurrence count is one map-side-combined groupBy
    * keyed on the gram — `hashGrams = true` (the 100 TB default)
    * shrinks that shuffle key to 8 bytes of xxhash64, trading a
    * ~n²/2⁶⁴ false-covered chance for not shuffling w-token strings;
    * the gated query passes `false` for DuckDB string parity and zero
    * collision risk. The coverage verdict is a per-doc BOUNDED window
    * (`ROWS w-1 PRECEDING`, never a whole-partition frame), and window,
    * rebuild fold, and final agg all share the id hash partitioning —
    * one exchange for the doc-side half. The corpus is scanned three
    * times (gram count, repeated-start join, token positions) rather
    * than persisting the exploded gram frame: at target scale the
    * grams outweigh the text ~w×, so re-scan beats caching them. */
  def repeatedSpans(
      df: DataFrame, idCol: String, textCol: String,
      w: Int, minOccur: Long = 2L, hashGrams: Boolean = true): DataFrame = {
    require(w >= 1, s"w must be >= 1: got $w")
    require(minOccur >= 2, s"minOccur must be >= 2: got $minOccur")
    val grams = df.select(col(idCol).as("id"),
        posexplode(Shingles.all(col(textCol), w)).as(Seq("p0", "gram")))
      .select(col("id"), (col("p0") + 1).as("pos"),
        (if (hashGrams) xxhash64(col("gram")) else col("gram")).as("g"))
    val rep = grams.groupBy("g").agg(count(lit(1)).as("c"))
      .filter(col("c") >= minOccur)
      .select("g")
    val starts = grams.join(rep, "g")
      .select(col("id"), col("pos"), lit(1L).as("is_start"))
    val positions = df.select(col(idCol).as("id"),
        posexplode(split(lower(col(textCol)), " ")).as(Seq("p0", "tok")))
      .select(col("id"), (col("p0") + 1).as("pos"), col("tok"))
    val winCover = Window.partitionBy("id").orderBy("pos")
      .rowsBetween(-(w - 1), 0)
    val marked = positions.join(starts, Seq("id", "pos"), "left")
      .withColumn("st", coalesce(col("is_start"), lit(0L)))
      .withColumn("cov", max(col("st")).over(winCover))
    marked.groupBy("id")
      .agg(count(lit(1)).as("n_tokens"),
        sum(col("st")).as("n_rep_starts"),
        sum(col("cov")).as("covered_tokens"),
        array_join(
          transform(
            filter(sort_array(collect_list(
              struct(col("pos"), col("cov"), col("tok")))),
              x => x.getField("cov") === 0),
            x => x.getField("tok")),
          " ").as("kept_text"))
      .withColumnRenamed("id", idCol)
  }

  /** EXACT weighted-cosine self-join over term-frequency vectors — the
    * All-Pairs family (Bayardo et al. 2007) for WEIGHTED sets, where
    * [[prefixFilterJaccardPairs]] covers unweighted ones: returns every
    * pair with cos(x,y) ≥ τ and nothing else. cos = Σ tf_x·tf_y /
    * (‖x‖·‖y‖) over lowercased whitespace tokens with multiplicity.
    *
    * EXACTNESS. τ is the rational `tauNum/tauDen`, and the verdict is
    * the squared cross-multiplied integer compare
    * `dot²·tauDen² ≥ tauNum²·‖x‖²·‖y‖²` (dot ≥ 0, so squaring is
    * order-preserving) — Decimal(38,0) products, no float ever decides
    * membership. Doubles appear only in the candidate PRUNING bound,
    * where they are made conservative (the threshold is lowered by an
    * ABSOLUTE slack scaled to the per-doc summation error bound, see
    * the prefix fold) — a float rounding error can only ADD candidates,
    * never drop a qualifying pair.
    *
    * COMPLETENESS. Per doc, features sort in the global (df ASC, token
    * ASC) order and the PREFIX is the shortest head whose tail bound
    * Σ_suffix w_x(t)·mw(t) falls below τ — w_x the doc's normalized
    * weight, mw(t) the corpus max normalized weight of t. If every
    * common token of a qualifying pair sat in x's suffix, cos(x,y) =
    * Σ_common w_x·w_y ≤ Σ_suffix w_x·mw < τ — contradiction; so each
    * side of a qualifying pair shares a PREFIX token with the other's
    * FULL vector, and the `prefix(a) ⋈ full(b), a.id < b.id` equi-join
    * finds every pair through the smaller id's prefix. Scale shape: one
    * (id, token) count, one token-keyed df/max-weight aggregate, the
    * prefix×full inverted-index join (the candidate generator), and a
    * scan-side map-lookup dot product on the distinct survivors — every
    * stage keyed on token or pair. Same stated hazard as d18: a
    * frequent token with a large max weight stretches prefixes toward
    * whole docs (small-vocabulary corpora); the intended regime is the
    * long-tail vocabulary where prefixes index rare tokens. Returns
    * (d1, d2, dot, n2_1, n2_2) with d1 < d2 and ‖·‖² the exact integer
    * squared norms. */
  def weightedCosinePairs(
      df: DataFrame, idCol: String, textCol: String,
      tauNum: Long, tauDen: Long,
      /** Hot-token ceiling (the d18 salt-grid guard): a token whose df
        * exceeds it spreads its prefix×full candidates over
        * ⌈df/ceiling⌉² content-hash grid cells — bounded max task,
        * identical candidates. Detection is free here: the full side's
        * per-token entry count IS df, already aggregated. */
      ceiling: Int = DefaultPrefixCeiling): DataFrame = {
    require(ceiling >= 2, s"ceiling must be >= 2: got $ceiling")
    require(tauNum > 0 && tauNum <= tauDen,
      s"tau must be in (0,1]: got $tauNum/$tauDen")
    // tauDen² and n2a·n2b·tauNum² must fit Decimal(38,0): with the 1e15
    // per-doc squared-norm cap below, tauDen ≤ 1000 keeps the squared
    // verdict at ≤ 1e36 — loud here, not wrapped there
    require(tauDen <= 1000L, s"tauDen must be <= 1000: got $tauDen")
    import org.apache.spark.sql.types.DecimalType
    val dec = DecimalType(38, 0)
    val tau = tauNum.toDouble / tauDen.toDouble
    // (id, token, tf) with multiplicity — persisted: feeds norms, df,
    // the prefix build, the full side of the join, and the verify maps.
    // Tokenizer is the shared [[tokens]] convention (empties dropped),
    // so d18 and d20 agree on the vocabulary even on ragged whitespace.
    val tf = df.select(col(idCol).as("id"),
        explode(tokens(col(textCol))).as("t"))
      .groupBy("id", "t").agg(count(lit(1)).as("tf"))
      .persist()
    val norms = tf.groupBy("id")
      .agg((sum(col("tf").cast(dec) * col("tf")) +
        coalesce(assert_true(
          sum(col("tf").cast(dec) * col("tf")) <= lit(1000000000000000L),
          lit("weighted_cosine_pairs: a squared norm exceeds 1e15 — the " +
            "squared integer verdict would leave Decimal(38,0); chunk " +
            "the document first")), lit(0L)))
        .cast("long").as("n2"))
    val stats = tf.join(norms, "id")
      .select(col("t"), (col("tf").cast("double") / sqrt(col("n2"))).as("w"))
      .groupBy("t").agg(count(lit(1)).as("dfc"), max("w").as("mw"))
    // per-doc features in (df ASC, token ASC) order with pruning
    // contributions w_x(t)·mw(t); two scan-side folds find the prefix cut
    val ordered = tf.join(norms, "id").join(stats, "t")
      .groupBy("id")
      .agg(max("n2").as("n2"),
        sort_array(collect_list(struct(col("dfc"), col("t"),
          (col("tf").cast("double") / sqrt(col("n2")) * col("mw"))
            .as("contrib")))).as("ord"))
    // total materializes as its own column FIRST: referencing the
    // aggregate() expression inside the fold lambda below would re-sum
    // the whole array per element — O(n²) per doc for zero gain
    val withTotal = ordered.withColumn("__tot",
      aggregate(col("ord"), lit(0.0), (acc, e) => acc + e.getField("contrib")))
    // prefix length: keep adding features while the remaining tail
    // could still reach τ on its own. The safety margin is ABSOLUTE and
    // scaled to the summation bound — the float error in (tot − cum)
    // grows with the doc's feature count n and the contribution total
    // (≈ 2(n+4)·2⁻⁵³·tot for positive-term sequential sums plus ~4 ulp
    // per term from the w·mw products), so a τ-relative shrink could be
    // outrun by a large-vocab doc at small τ. (n+8)·1e-15·max(tot,1)
    // dominates that bound with ~4× headroom; over-margin only ADDS
    // candidates — the exact integer verdict discards them.
    val tauErr = (size(col("ord")) + lit(8)).cast("double") * lit(1e-15) *
      greatest(col("__tot"), lit(1.0))
    val plen = aggregate(col("ord"),
      struct(lit(0.0).as("cum"), lit(0).as("len"), lit(false).as("done")),
      (acc, e) => {
        val stillNeeded = (col("__tot") - acc.getField("cum")) >= lit(tau) - tauErr
        struct(
          (acc.getField("cum") + e.getField("contrib")).as("cum"),
          when(!acc.getField("done") && stillNeeded,
            acc.getField("len") + 1).otherwise(acc.getField("len")).as("len"),
          (acc.getField("done") || !stillNeeded).as("done"))
      },
      acc => acc.getField("len"))
    val prefix = withTotal
      .select(col("id"), explode(slice(col("ord"), lit(1), plen)).as("pe"))
      .select(col("id"), col("pe").getField("t").as("t"))
    val hot = stats.filter(col("dfc") > ceiling)
      .select(col("t"),
        floor((col("dfc") + (ceiling - 1).toLong) / ceiling.toLong)
          .cast("long").as("__f"))
    val mayBeHot = !hot.isEmpty
    val cand = (if (!mayBeHot) {
      prefix.as("a")
        .join(tf.select(col("id"), col("t")).as("b"),
          col("a.t") === col("b.t") && col("a.id") < col("b.id"))
        .select(col("a.id").as("d1"), col("b.id").as("d2"))
    } else {
      // d18's salt grid: content-hash salts (ids unique → retry-stable),
      // cold tokens pin both to 0 with factor-1 replication
      def gridSide(side: DataFrame) = side.join(broadcast(hot), Seq("t"), "left")
        .withColumn("__s",
          when(col("__f").isNull, lit(0L))
            .otherwise(pmod(xxhash64(col("id")), col("__f"))))
        .withColumn("__r",
          explode(sequence(lit(0L), coalesce(col("__f"), lit(1L)) - 1L)))
      gridSide(prefix).as("a")
        .join(gridSide(tf.select(col("id"), col("t"))).as("b"),
          col("a.t") === col("b.t") &&
            col("a.__r") === col("b.__s") && col("b.__r") === col("a.__s") &&
            col("a.id") < col("b.id"))
        .select(col("a.id").as("d1"), col("b.id").as("d2"))
    }).distinct()
    val maps = tf.groupBy("id")
      .agg(map_from_entries(collect_list(struct(col("t"), col("tf")))).as("m"))
      .join(norms, "id")
    val out = cand
      .join(maps.select(col("id").as("d1"), col("m").as("m1"), col("n2").as("n2_1")), "d1")
      .join(maps.select(col("id").as("d2"), col("m").as("m2"), col("n2").as("n2_2")), "d2")
      .select(col("d1"), col("d2"),
        aggregate(map_entries(col("m1")), lit(0L).cast(dec),
          (acc, e) => acc + e.getField("value").cast(dec) *
            coalesce(element_at(col("m2"), e.getField("key")), lit(0L)))
          .as("dotD"),
        col("n2_1"), col("n2_2"))
      .filter(col("dotD") * col("dotD") * (tauDen * tauDen) >=
        lit(tauNum * tauNum).cast(dec) * col("n2_1") * col("n2_2"))
      .select(col("d1"), col("d2"), col("dotD").cast("long").as("dot"),
        col("n2_1"), col("n2_2"))
    materializeAndRelease(out, tf)
  }

  /** Corpus SNAPSHOT DIFF — dataset versioning's primitive: what
    * changed between two corpus snapshots, keyed by document id with
    * content compared by hash. One full-outer join on the id (the only
    * shuffle; the wide text column reduces to a 16-byte md5 before the
    * exchange), status ∈ added | removed | changed | same. The
    * reproducibility audit every training-data release needs ("what
    * moved between v3 and v4?") and the input to incremental
    * re-processing (feed `added ∪ changed` downstream instead of the
    * whole snapshot). */
  def corpusDiff(
      old: DataFrame, neu: DataFrame,
      idCol: String, textCol: String): DataFrame = {
    val a = old.select(col(idCol).as("id"), md5(col(textCol)).as("h_old"))
    val b = neu.select(col(idCol).as("id"), md5(col(textCol)).as("h_new"))
    a.join(b, Seq("id"), "full_outer")
      .select(col("id").as(idCol),
        when(col("h_old").isNull, lit("added"))
          .when(col("h_new").isNull, lit("removed"))
          .when(col("h_old") === col("h_new"), lit("same"))
          .otherwise(lit("changed")).as("status"))
  }

  /** The distributed subtree of [[sortedNeighborhoodPairs]] — the one
    * range exchange + in-partition sort the operator is built on
    * (exposed so the plan shape is testable: RangePartitioning bounds
    * every task at ~n/p rows under ANY key-prefix skew; no Window, no
    * self-join). Columns: (id, key, __block), sorted by (key, id). */
  private[graft] def snmSorted(
      df: DataFrame, idCol: String, keyCol: String, blockLen: Int): DataFrame = {
    val p = math.max(1, df.sparkSession.sessionState.conf.numShufflePartitions)
    df.select(col(idCol), col(keyCol))
      .withColumn("__block", substring(col(keyCol), 1, blockLen))
      .repartitionByRange(p, col(keyCol).asc, col(idCol).asc)
      .sortWithinPartitions(col(keyCol).asc, col(idCol).asc)
  }
}
