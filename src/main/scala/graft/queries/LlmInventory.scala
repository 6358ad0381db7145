package graft.queries

import graft.core.Tables
import graft.core.Tables._
import graft.functions.GraftFunctions.{char_stats, nfc_normalize}
import graft.operators.{BloomSet, Classifier, Decontam, Dedup, Importance, LmScore, Multimodal, Pii, Sampling, Similarity, Sketches, Skew, TextAnalysis, UrlOps}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Training-data pipeline operators (dedup, similarity search, text
  * analysis, multimodal) surfaced as driver-checkable queries over the
  * `documents` / `embeddings` testdata tables. Implementations live in
  * [[graft.operators]]; entries here bind them to concrete columns.
  */
object LlmInventory {
  type Q = (SparkSession, String) => DataFrame

  // --- Text analysis ----------------------------------------------------

  val t1TokenCount: Q = (s, d) =>
    documents(s, d).select(
      col("doc_id"),
      TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens"))

  /** t32: BPE-ish pre-token counting ([[TextAnalysis.bpeishTokenCount]])
    * — the GPT-2 pre-tokenizer extraction regex (letter runs, digit
    * runs, one token per remaining symbol) next to the whitespace count,
    * with the expansion ratio (pre-tokens per whitespace word) every
    * token-budget estimate needs. Docs are augmented with a digits+punct
    * suffix so the sub-word split visibly diverges from the whitespace
    * split. */
  val t32BpeishTokens: Q = (s, d) => {
    val aug = concat(col("text"),
      lit(" v"), col("doc_id").cast("string"), lit(".x=1,y=22;"))
    documents(s, d)
      .filter(col("doc_id") < 2000)
      .select(
        col("doc_id"),
        TextAnalysis.tokenCount(aug).cast("long").as("n_ws"),
        TextAnalysis.bpeishTokenCount(aug).cast("long").as("n_bpeish"))
      .withColumn("expansion",
        col("n_bpeish").cast("double") / col("n_ws"))
  }

  val t2QualityStats: Q = (s, d) =>
    documents(s, d).select(
      col("doc_id"),
      length(col("text")).cast("long").as("n_chars2"),
      size(split(col("text"), " ")).cast("long").as("n_words"),
      ((length(col("text")) - length(regexp_replace(col("text"), "the", ""))) / 3)
        .cast("long").as("the_cnt"))

  val t3LangStats: Q = (s, d) =>
    documents(s, d)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("total_chars"))

  /** Language-ID heuristic (stopword profiles + CJK script vote) —
    * oracle-checked: DuckDB `list_intersect` + a CASE chain reproduce the
    * greatest-struct argmax (ties to earliest profile) exactly; scores are
    * exact ints so the compare is deterministic. */
  val t4LangId: Q = (s, d) =>
    // withLangId, not the Column langId: the df-level form tokenizes once
    // per row instead of once per profile (~4× on the lang-id hot path)
    TextAnalysis.withLangId(documents(s, d), "text")
      .select("doc_id", "lang_pred")

  val t5Fingerprint: Q = (s, d) =>
    documents(s, d).select(
      col("doc_id"),
      TextAnalysis.fingerprintMd5(col("text")).as("fp"))

  // --- Dedup ------------------------------------------------------------

  val d2ExactDedup: Q = (s, d) =>
    Dedup.exactGroups(documents(s, d), "doc_id", "text")

  /** Unigram-overlap candidate pairs (the n-gram-Jaccard numerator),
    * restricted to a doc window so the oracle join stays small. The
    * operator carries a document-frequency ceiling (hot tokens dropped
    * before the self-join — the quadratic-blowup guard); maxDf=100 exceeds
    * the window's 60 docs, so the oracle (which has no cap) still matches
    * exactly. */
  val d3TokenOverlap: Q = (s, d) =>
    Dedup.tokenOverlapPairs(
      documents(s, d).filter(col("doc_id") < 60), "doc_id", "text",
      minCommon = 30, maxDf = 100)

  /** MinHash band-bucket candidate pairs, 4 hashes / 2 bands of 2 —
    * oracle-checkable because the seeded hash is md5. The OR-of-bands is
    * planned as a UNION of two hash equi-joins + distinct (an OR join
    * condition would force a nested-loop — quadratic at scale). */
  val d4MinhashBand: Q = (s, d) => {
    val sig = documents(s, d)
      .filter(col("doc_id") < 100)
      .select(col("doc_id"),
        graft.operators.MinHash.md5Signature(Dedup.tokenSet(col("text")), 4).as("sig"))
      .select(col("doc_id") +: (1 to 4).map(i => element_at(col("sig"), i).as(s"mh$i")): _*)
    def bandPairs(h1: String, h2: String) = {
      val a = sig.select(col("doc_id").as("d1"), col(h1).as("b1"), col(h2).as("b2"))
      val b = sig.select(col("doc_id").as("d2"), col(h1).as("b1"), col(h2).as("b2"))
      a.join(b, Seq("b1", "b2")).filter(col("d1") < col("d2")).select("d1", "d2")
    }
    bandPairs("mh1", "mh2").unionByName(bandPairs("mh3", "mh4")).distinct()
  }

  /** Full MinHash-LSH pipeline (shingle→minhash→band→bucket join) —
    * oracle-checked via the md5-parity hash family (signature mins AND
    * band hashes both md5, reproducible in ANSI SQL); the xxhash64 codegen
    * kernel remains the operator's scale default and is equivalence-tested
    * in ScalaTest. 3-word shingles + 2 bands of 4 hashes: collision
    * probability stays selective even on the synthetic corpus's tiny
    * vocabulary. */
  val d5MinhashLsh: Q = (s, d) =>
    Dedup.minhashCandidatePairs(
      documents(s, d), "doc_id", "text", numHashes = 8, rowsPerBand = 4,
      shingleWidth = 3, md5Parity = true)
      .orderBy("d1", "d2")

  /** Exact unigram Jaccard over all pairs in a doc window: the verify
    * stage after LSH candidate generation. A single IEEE double division
    * of two exact ints → bit-identical in Spark and DuckDB. */
  val d8JaccardVerify: Q = (s, d) => {
    val sub = documents(s, d)
      .filter(col("doc_id") < 40)
      .select(col("doc_id"), Dedup.tokenSet(col("text")).as("toks"))
    val a = sub.select(col("doc_id").as("d1"), col("toks").as("t1"))
    val b = sub.select(col("doc_id").as("d2"), col("toks").as("t2"))
    a.join(b, col("d1") < col("d2"))
      .select(
        col("d1"), col("d2"),
        (size(array_intersect(col("t1"), col("t2"))).cast("double") /
          size(array_union(col("t1"), col("t2")))).as("jaccard"))
      .filter(col("jaccard") >= 0.5)
  }

  /** Near-dup GROUPS (LSH -> jaccard -> connected components) — the full
    * corpus-dedup pipeline output, oracle-checked end to end: md5-parity
    * LSH candidates, exact-int Jaccard with one IEEE division, and
    * min-label components reproduced in the oracle by a recursive CTE
    * (min reachable id == union-find's min-of-cluster label). */
  val d9NearDupGroups: Q = (s, d) =>
    Dedup.nearDupGroups(documents(s, d), "doc_id", "text", jaccardThreshold = 0.8,
      md5Parity = true)
      .orderBy("doc_id")

  /** d10: dedup yield report — group-size histogram over the d9
    * components with exact kept/dropped doc counts per size: the summary
    * a curation run publishes ("dedup dropped N docs; largest cluster
    * size S"). Pure integer aggregation downstream of the oracle-checked
    * d9 pipeline, so the whole report hash-matches. */
  val d10DedupYield: Q = (s, d) =>
    Dedup.nearDupGroups(documents(s, d), "doc_id", "text", jaccardThreshold = 0.8,
      md5Parity = true)
      .groupBy("group").agg(count(lit(1)).as("group_size"))
      .groupBy("group_size")
      .agg(
        count(lit(1)).as("n_groups"),
        (count(lit(1)) * col("group_size")).as("n_docs"),
        (count(lit(1)) * (col("group_size") - 1)).as("n_dropped"))

  /** d16: best-of-group survivor selection — the curation policy layered
    * on d9's components: instead of the union-find's min-id label, each
    * near-dup cluster keeps its HIGHEST-QUALITY member (n_chars as the
    * quality key here; any score column works), tie-broken by doc_id for
    * a total order. One broadcast-scale window over the group frame —
    * the corpus-sized side never re-shuffles beyond the d9 pipeline
    * itself. The difference matters in practice: min-id keeps whichever
    * copy was crawled first, best-of keeps the longest/cleanest copy. */
  val d16BestOfGroup: Q = (s, d) => {
    val docs = documents(s, d)
    val groups = Dedup.nearDupGroups(docs, "doc_id", "text",
      jaccardThreshold = 0.8, md5Parity = true)
    val w = Window.partitionBy("group")
      .orderBy(col("n_chars").desc, col("doc_id").asc)
    groups.join(docs.select("doc_id", "n_chars"), Seq("doc_id"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("group"), col("doc_id").as("kept_doc"),
        col("n_chars").as("kept_chars"))
  }

  /** d12: cross-corpus (incremental) EXACT dedup
    * ([[Dedup.exactDedupAgainst]]) — the new-snapshot-vs-at-rest-corpus
    * sweep: docs with doc_id % 10 == 0 play the existing corpus, the
    * rest the new snapshot; survivors are new docs whose text hash has
    * no reference match (one 16-byte anti-join). */
  val d12ExactDedupAgainst: Q = (s, d) => {
    val docs = documents(s, d)
    Dedup.exactDedupAgainst(
      docs.filter(col("doc_id") % 10 =!= 0),
      docs.filter(col("doc_id") % 10 === 0), "doc_id", "text")
      .select("doc_id")
  }

  /** d14: d12's sweep through the BLOOM PRE-FILTER
    * ([[Dedup.exactDedupAgainstBloom]]) — the oracle is d12's anti-join
    * SQL verbatim, so the hash match is the LOSSLESSNESS proof: rows the
    * broadcast Bloom clears as definitely-novel (no false negatives)
    * skip the join, the maybe-set verifies exactly, the union equals
    * the plain anti-join bit-for-bit. m sized tight (2¹⁴ over ~50
    * reference docs) so both branches are genuinely exercised. */
  val d14BloomDedupAgainst: Q = (s, d) => {
    val docs = documents(s, d)
    Dedup.exactDedupAgainstBloom(
      docs.filter(col("doc_id") % 10 =!= 0),
      docs.filter(col("doc_id") % 10 === 0), "doc_id", "text",
      m = 1 << 14, k = 4)
      .select("doc_id")
  }

  /** d13: cross-corpus NEAR-dup verdicts ([[Dedup.nearDupAgainst]], md5
    * family): each new doc (doc_id % 10 ≠ 0) gets (dup_of, is_dup)
    * against the reference slice via band-bucket join + exact
    * shingle-Jaccard — the "is it already in the corpus?" sweep. The
    * default refPerBucketCap far exceeds any sf0.01 bucket, so the
    * oracle (which has no cap) matches exactly — the d4 maxDf
    * precedent. */
  val d13NearDupAgainst: Q = (s, d) => {
    val docs = documents(s, d)
    Dedup.nearDupAgainst(
      docs.filter(col("doc_id") % 10 =!= 0),
      docs.filter(col("doc_id") % 10 === 0), "doc_id", "text",
      md5Parity = true)
  }

  /** t25: the composed curation funnel — the `corpus curate` CLI's
    * RefinedWeb ordering (quality gate → whole-doc near-dup dedup →
    * chunk-level line dedup) at fixed knobs, reported as per-stage
    * (stage, docs_in, docs_out) counts. Each stage is the REAL operator
    * the standalone queries check (t6's qualityFilter, d9's
    * nearDupGroups with the md5-parity family, d11's chunkDedup), and
    * the oracle CHAINS the three already-green constructions over each
    * stage's survivor set — so the funnel's composition, not just its
    * pieces, faces the hash gate. */
  val t25CurateFunnel: Q = (s, d) => {
    val (n0, n1, n2, n3, _) = curateStages3(s, d)
    // survivor frame is localCheckpoint-backed — ContextCleaner reclaims
    import s.implicits._
    Seq(("1_quality", n0, n1), ("2_neardedup", n1, n2), ("3_linededup", n2, n3))
      .toDF("stage", "docs_in", "docs_out")
  }

  /** Stages 1–3 of the curate funnel (quality gate → near-dup groups →
    * chunk dedup), shared by t25 and t55: returns the stage counts and
    * the line-deduped survivor frame (text REBUILT from surviving
    * chunks, eagerly localCheckpoint-ed — blocks reclaimed by the
    * ContextCleaner once the caller drops the reference). The survivor
    * frame feeds several downstream actions per caller, hence the
    * materialized pin; localCheckpoint (vs persist) also TRUNCATES the
    * logical plan so later actions stop re-analyzing the whole funnel. */
  private def curateStages3(
      s: SparkSession, d: String): (Long, Long, Long, Long, DataFrame) = {
    val docs = documents(s, d)
    val n0 = docs.count()
    // stage frames pin with EAGER localCheckpoint, not persist: the
    // funnel chains 6+ driver actions, and a persisted frame still
    // carries its full LOGICAL plan — every downstream action re-runs
    // analysis/optimization over the whole accumulated tree (measured as
    // a 6.7 s driver-side gap on t55 at sf0.1, ~half its wall). The
    // checkpoint truncates the plan to the materialized blocks; the
    // frames are survivor-sized. Fan the quality scan out first when the
    // source is narrow ([[graft.operators.Fan.scan]]) — the single-file
    // snapshot otherwise runs its regexp/tokenize pass on one core
    // (measured: the n1 count was a 1.0 s single-task stage); a
    // many-file production corpus skips the exchange.
    val q = TextAnalysis.qualityFilter(graft.operators.Fan.scan(docs), "text")
      .filter(col("quality_ok"))
      .select(docs.columns.toIndexedSeq.map(col): _*)
      .localCheckpoint(true)
    val n1 = q.count()
    val groups = Dedup.nearDupGroups(q, "doc_id", "text",
      jaccardThreshold = 0.8, md5Parity = true).persist()
    val deduped = q.join(
      groups.filter(col("is_representative")).select(col("doc_id")),
      Seq("doc_id"), "left_semi")
      .localCheckpoint(true)
    val n2 = deduped.count()
    val chunks = Dedup.chunkDedup(deduped, "doc_id", "text", 10)
    val lineDeduped = deduped.drop("text").join(
      chunks.filter(col("text_dedup").isNotNull)
        .select(col("doc_id"), col("text_dedup").as("text")),
      Seq("doc_id")).localCheckpoint(true)
    val n3 = lineDeduped.count()
    chunks.unpersist(blocking = false)
    groups.unpersist(blocking = false)
    (n0, n1, n2, n3, lineDeduped)
  }

  /** t55: the FULL curation funnel under one oracle — t25's three
    * stages composed with the remaining CLI stages (`Main` curate):
    * classifier gate (t21's construction over the REBUILT text),
    * benchmark decontamination (t11's 4-gram shingle join against the
    * planted doc_id%97 benchmark — benchmark members drop too), and the
    * token-budget prefix (t13's total order over the rebuilt text,
    * 5000-word budget). Each stage is the PRODUCTION operator; the
    * oracle chains the six already-green constructions over each
    * stage's survivor set, so every inter-stage handoff — including the
    * rebuilt-text plumbing that only exists in composition — faces the
    * hash gate. Scale shape: one persist per survivor frame feeding the
    * next stage's actions, released in reverse order; no operator here
    * does more work than its standalone gated form. */
  val t55CurateFunnelFull: Q = (s, d) => {
    val (n0, n1, n2, n3, ld) = curateStages3(s, d)
    // stage 4: classifier gate over the rebuilt text — the keep verdict
    // is a pure per-row function of the text, so it runs as an INLINE
    // filter ([[Classifier.filtered]], the same construction t21 gates)
    // instead of the old scored→left_semi self-join, which analyzed and
    // executed the ld subtree twice and paid a join for a row-local
    // decision (doc_ids are unique, so semi-join ≡ filter). Stage pins
    // are eager localCheckpoints for the same reason as curateStages3.
    val classified = Classifier.filtered(ld, "text", seed = "w", threshold = 0.0)
      .localCheckpoint(true)
    val n4 = classified.count()
    // stage 5: decontaminate against the planted benchmark (raw text on
    // the benchmark side — the benchmark is external to the pipeline)
    val docs = documents(s, d)
    val bench = docs.filter(col("doc_id") % 97 === 0)
    val nonBench = classified.filter(col("doc_id") % 97 =!= 0)
    val hits = Decontam.contaminationHits(nonBench, bench, "doc_id", "text", w = 4)
    val decon = nonBench.join(
      hits.select("doc_id"), Seq("doc_id"), "left_anti").localCheckpoint(true)
    val n5 = decon.count()
    // stage 6: token-budget prefix over the rebuilt text
    val withCost = decon
      .withColumn("n_words_f", size(split(col("text"), " ")).cast("long"))
      .withColumn("n_chars_f", length(col("text")).cast("long"))
    val n6 = Sampling.withTokenBudgetSelect(
      withCost, "doc_id", "n_words_f", "n_chars_f", 5000L)(_.count())
    // stage frames are localCheckpoint-backed (no cacheManager entry):
    // the ContextCleaner reclaims their blocks once unreferenced
    import s.implicits._
    Seq(("1_quality", n0, n1), ("2_neardedup", n1, n2),
      ("3_linededup", n2, n3), ("4_classify", n3, n4),
      ("5_decontam", n4, n5), ("6_budget", n5, n6))
      .toDF("stage", "docs_in", "docs_out")
  }

  /** Quality gate with drop reasons — oracle-checked: every signal is
    * integer arithmetic followed by ONE IEEE double division (the d8
    * technique), so the threshold comparisons classify identically in
    * Spark and DuckDB. */
  val t6QualityFilter: Q = (s, d) =>
    TextAnalysis.qualityFilter(documents(s, d), "text")
      .groupBy("quality_ok", "drop_reason")
      .agg(count(lit(1)).as("n"))

  /** SimHash near-dup signatures — oracle-checked via the md5-parity
    * relational construction ([[Similarity.simhashMd5Parity]]); the
    * codegen FNV-1a [[Similarity.simhash64]] kernel stays the scale path
    * (equivalence of the vote construction is asserted in ScalaTest). */
  val d6Simhash: Q = (s, d) =>
    // single-pass kernel form of the md5-parity simhash — bit-identical
    // to the relational construction the DuckDB oracle rebuilds
    // (kernel-vs-relational parity unit-tested), without the relational
    // path's 64-rows-per-token bit explosion
    documents(s, d).select(
      col("doc_id"),
      Similarity.md5SimhashHex(Dedup.tokenSet(col("text"))).as("simhash_hex"))

  /** Embedding-cosine near-dup pairs via hyperplane LSH — oracle-checked
    * through the md5-derived ±1 plane family ([[Similarity.md5SignPlanes]]):
    * ±1·float products are exact doubles and both engines fold the dot
    * product left-to-right, so bucket membership is bit-identical; the
    * closest pair sits 1e-3 from the 0.35 cosine threshold (measured at
    * sf0.01), far outside fp noise. The JVM-seeded Gaussian family stays
    * the operator default (recall floors pinned in RecallSpec). */
  val d7EmbeddingNearDup: Q = (s, d) =>
    Dedup.embeddingNearDupPairs(
      embeddings(s, d), "vec_id", "embedding",
      planes = 8, seed = 42L, threshold = 0.35, bands = 2, md5Family = true)
      .select("d1", "d2")
      .orderBy("d1", "d2")

  /** Semantic dedup end to end (the SemDeDup corpus-curation shape):
    * d7's oracle-checked embedding near-dup pairs → connected components
    * → min-id representative per semantic cluster. The oracle reuses
    * d7's pair SQL verbatim and d9's recursive-CTE component
    * construction, so the full semantic-dedup verdict (who is kept, who
    * is dropped, which cluster) hash-matches. */
  val s7SemanticDedup: Q = (s, d) =>
    Dedup.semanticDedupGroups(
      embeddings(s, d), "vec_id", "embedding",
      planes = 8, seed = 42L, threshold = 0.35, bands = 2, md5Family = true)
      .orderBy("vec_id")

  // --- Similarity search ------------------------------------------------

  /** Brute-force cosine top-10 for query vec_id=0; rank-only output so the
    * oracle compare is robust to last-ulp float differences. Ranks are
    * assigned driver-side over the ALREADY-REDUCED 10-row TakeOrdered
    * result — a global `Window.orderBy` here (even over 10 rows) plans a
    * single-partition window and was the codebase's last
    * everything-to-one-partition warning. */
  val s1CosineTopK: Q = (s, d) => {
    val em = embeddings(s, d)
    val query = em.filter(col("vec_id") === 0)
      .select("embedding").head().getSeq[Float](0)
    val top = Similarity
      .bruteForceTopK(em.filter(col("vec_id") =!= 0), "vec_id", "embedding", query, 10)
      .orderBy(col("cosine").desc, col("vec_id").asc)
      .select("vec_id").collect()
    import s.implicits._
    top.toSeq.zipWithIndex
      .map { case (r, i) => ((i + 1).toLong, r.getLong(0)) }
      .toDF("rnk", "vec_id")
  }

  /** s17: metadata-FILTERED vector search ([[Similarity.filteredTopK]])
    * — the vector-database WHERE clause (label = 3), exact pre-filter
    * path: the predicate pushes into the parquet scan, vector math runs
    * only on survivors, rank-only output like s1. The probed variant
    * ([[Similarity.filteredIvfTopK]]) is recall-measured in RecallSpec;
    * the driver gate holds the exact path, which any selectivity must
    * reproduce. */
  val s17FilteredTopK: Q = (s, d) => {
    val em = embeddings(s, d)
    val query = em.filter(col("vec_id") === 0)
      .select("embedding").head().getSeq[Float](0)
    val top = Similarity.filteredTopK(
      em.filter(col("vec_id") =!= 0), "vec_id", "embedding",
      col("label") === 3, query, 10)
      .orderBy(col("cosine").desc, col("vec_id").asc)
      .select("vec_id").collect()
    import s.implicits._
    top.toSeq.zipWithIndex
      .map { case (r, i) => ((i + 1).toLong, r.getLong(0)) }
      .toDF("rnk", "vec_id")
  }

  /** LSH-bucketed ANN over the same query — oracle-checked via the md5
    * ±1 plane family (bucket membership bit-identical in DuckDB) with
    * rank-only output like s1; ranks assigned driver-side over the
    * already-reduced ≤10-row result (no single-partition window). */
  val s2LshTopK: Q = (s, d) => {
    val em = embeddings(s, d)
    val query = em.filter(col("vec_id") === 0)
      .select("embedding").head().getSeq[Float](0)
    val top = Similarity.lshTopK(em.filter(col("vec_id") =!= 0), "vec_id", "embedding",
      query, k = 10, planes = 4, seed = 42L, multiProbe = true, md5Family = true)
      .orderBy(col("cosine").desc, col("vec_id").asc)
      .select("vec_id").collect()
    import s.implicits._
    top.toSeq.zipWithIndex
      .map { case (r, i) => ((i + 1).toLong, r.getLong(0)) }
      .toDF("rnk", "vec_id")
  }

  /** Long-form parquet dump of a driver-trained ANN artifact (IVF
    * centroids / PQ codebooks) under `target/oracle/<sf>/<name>` so the
    * DuckDB oracle can mirror the FULL serving pipeline relationally —
    * assignment, ADC, rerank are all sequential double folds over these
    * floats, bit-reproducible via ordered `list_reduce`. Only the Lloyd
    * TRAINING (iterative, driver-side) is taken as given; everything
    * downstream is recomputed and checked by the oracle. The path is
    * resolved against the cwd at emit time, and [[LlmInventory.oracleSql]]
    * embeds the same resolution, so writer and reader always agree. */
  private[queries] def oracleArtifactPath(sfDir: String, name: String): String =
    new java.io.File(
      s"target/oracle/${new java.io.File(sfDir).getName}/$name").getAbsolutePath

  /** IVF ANN: k-means coarse quantizer + nProbe list probing — the other
    * scale path beside LSH. Oracle-checked end-to-end: the trained
    * centroids persist in long form ([[oracleArtifactPath]]) and the
    * DuckDB SQL mirrors probe selection (`d/sqrt(na*nb)`, the
    * driver-side [[Similarity.probedLists]] formula), the greatest-struct
    * list assignment (`d/(sqrt(na)*sqrt(nb))`, ties to the HIGHER
    * list_id — Spark struct `greatest`), and the exact-cosine top-10. */
  val s4IvfTopK: Q = (s, d) => {
    val em = embeddings(s, d)
    val query = em.filter(col("vec_id") === 0)
      .select("embedding").head().getSeq[Float](0)
    val centroids = Similarity.kmeansCentroids(em, "embedding", k = 8, iters = 5, seed = 42L)
    locally {
      import s.implicits._
      centroids.zipWithIndex.flatMap { case (c, li) =>
        c.zipWithIndex.map { case (v, p) => (li, p, v) }
      }.toSeq.toDF("list_id", "pos", "val")
        .coalesce(1).write.mode("overwrite")
        .parquet(oracleArtifactPath(d, "s4_centroids"))
    }
    Similarity.ivfTopK(em.filter(col("vec_id") =!= 0), "vec_id", "embedding",
      query, k = 10, centroids, nProbe = 3)
      .select("vec_id")
  }

  /** s8: product-quantization ANN ([[Similarity.pqTopK]] — the FAISS PQ
    * flat-scan shape): 16 per-subspace Lloyd codebooks quantize each
    * 64-dim embedding to 16 bytes, ADC lookup-table scoring prefilters,
    * exact cosine reranks. Oracle-checked end-to-end: only the Lloyd
    * codebook TRAINING is taken as given (persisted via
    * [[oracleArtifactPath]]); the DuckDB SQL re-derives each vector's
    * 16 code bytes (per-subspace L2 argmin, ties to the lowest index —
    * [[graft.functions.PqUtil.encodeFloats]]), the query LUT, the ADC
    * scores, the overfetch·k survivor cut, and the exact-cosine top-10,
    * all as ordered double folds that match the kernels bitwise. Recall
    * is additionally pinned in RecallSpec (0.87 @ overfetch=4). */
  val s8PqTopK: Q = (s, d) => {
    val em = embeddings(s, d)
    val query = em.filter(col("vec_id") === 0)
      .select("embedding").head().getSeq[Float](0)
    val codebooks =
      Similarity.pqCodebooks(em, "embedding", m = 16, ksub = 16, iters = 5, seed = 42L)
    locally {
      import s.implicits._
      codebooks.zipWithIndex.flatMap { case (cents, sub) =>
        cents.zipWithIndex.flatMap { case (cv, c) =>
          cv.zipWithIndex.map { case (v, p) => (sub, c, p, v) }
        }
      }.toSeq.toDF("sub", "c", "pos", "val")
        .coalesce(1).write.mode("overwrite")
        .parquet(oracleArtifactPath(d, "s8_codebooks"))
    }
    Similarity.pqTopK(em.filter(col("vec_id") =!= 0), "vec_id", "embedding",
      query, k = 10, codebooks)
      .select("vec_id")
  }

  /** SQ8 scalar-quantized ANN ([[Similarity.sq8TopK]]): unit-normalize,
    * quantize to signed bytes (1 byte/dim — the 4x-compressed scan path),
    * rank by the EXACT integer code dot product. Every step is integer
    * or reproducible double arithmetic (ordered-fold norm, floor, clamp),
    * so the oracle rebuilds codes and scores bit-for-bit relationally;
    * scores ride along in the output as the strongest check. Rank
    * assigned driver-side over the already-reduced 10-row TakeOrdered
    * result (no single-partition window; the s1 pattern). The exact-
    * cosine `rerank` refinement stays the operator default for users —
    * recall of both paths is pinned in RecallSpec. */
  val s6Sq8TopK: Q = (s, d) => {
    val em = embeddings(s, d)
    val query = em.filter(col("vec_id") === 0)
      .select("embedding").head().getSeq[Float](0)
    val top = Similarity
      .sq8TopK(em.filter(col("vec_id") =!= 0), "vec_id", "embedding", query, 10)
      .collect()
    import s.implicits._
    top.toSeq.zipWithIndex
      .map { case (r, i) => ((i + 1).toLong, r.getLong(0), r.getLong(1)) }
      .toDF("rnk", "vec_id", "score")
  }

  /** Top-3 neighbors for EVERY query vector (vec_id<20): broadcast query
    * set against the corpus, then a bounded top-k aggregate per query (the
    * partial [[graft.operators.BoundedTopK]] truncates map-side, so the
    * shuffle carries only k survivors per partition per query — no
    * corpus-sized window exchange). Rank output keeps the oracle robust to
    * last-ulp float differences. */
  val s5TopKJoin: Q = (s, d) => {
    val em = embeddings(s, d)
    Similarity.topKJoin(
      em.filter(col("vec_id") < 20).select(col("vec_id").as("q_id"), col("embedding")),
      em, "q_id", "vec_id", "embedding", "embedding", k = 3,
      excludeSelf = true) // queries ARE corpus rows
      .select(col("q_id"), col("vec_id"), col("rnk").cast("long").as("rnk"))
  }

  /** s18: kNN majority-vote label prediction ([[Similarity.knnPredict]])
    * — classification by retrieval: the first 20 vectors as queries
    * (self excluded), 10 nearest neighbors vote, most votes wins with
    * ties to the smallest label. Neighbor ranking mirrors s5's
    * cosine-order construction; the vote is exact integers over a
    * |queries|·k frame. Emits the true label alongside for an
    * agreement readout. */
  val s18KnnPredict: Q = (s, d) => {
    val em = embeddings(s, d)
    val queries = em.filter(col("vec_id") < 20)
      .select(col("vec_id").as("q_id"), col("embedding"),
        col("label").as("label_true"))
    val pred = Similarity.knnPredict(queries, em, "q_id", "vec_id",
      "embedding", "embedding", "label", k = 10, excludeSelf = true)
    queries.select("q_id", "label_true")
      .join(pred, Seq("q_id"))
      .select(col("q_id"), col("label_true"), col("label_pred"),
        col("votes").cast("long").as("votes"))
  }

  /** s19: incremental index APPEND ≡ from-scratch REBUILD, as a hard-gate
    * equality ([[Similarity.appendToIvfIndex]]) — the index-maintenance
    * contract that makes streaming ingest viable at 100 TB (appends touch
    * only new vectors; nothing rescans). Construction: train centroids
    * once, build an index on even vec_ids, APPEND the odd ones; build a
    * second index on the full corpus from scratch. The query probes the
    * APPENDED index for 8 query vectors and returns (q_id, rnk, vec_id,
    * cosine); the REBUILT index's answers are written as the oracle
    * artifact — so the driver's DuckDB hash equality IS the
    * append-transparency property, checked end-to-end through the
    * manifest-backed partition-pruned serving path. */
  val s19AppendEqualsRebuild: Q = (s, d) => {
    val em = embeddings(s, d)
    val cents = Similarity.kmeansCentroids(
      em, "embedding", k = 16, iters = 3, seed = 42L, sampleN = 2000)
    val incr = Inventory.scratchDir("s19_incr").toString
    val full = Inventory.scratchDir("s19_full").toString
    Similarity.writeIvfIndex(
      em.filter(pmod(col("vec_id"), lit(2)) === 0), "embedding", cents, incr)
    Similarity.appendToIvfIndex(
      em.filter(pmod(col("vec_id"), lit(2)) === 1), "embedding", cents, incr)
    Similarity.writeIvfIndex(em, "embedding", cents, full)
    // ONE bounded collect for all 8 query vectors (r16): the per-qid
    // head() probes were 16 separate driver actions across the two
    // answer sets — pure per-action overhead; the serving-path probes
    // below (the thing the gate checks) are unchanged
    val qvecs: Map[Long, Seq[Float]] = em.filter(col("vec_id") < 8)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    def answers(dir: String): Seq[(Long, Long, Long, Double)] =
      (0L until 8L).flatMap { qid =>
        val q = qvecs(qid)
        Similarity
          .ivfTopKIndexed(s, dir, "vec_id", "embedding", q, k = 10, cents, nProbe = 4)
          .collect().zipWithIndex
          .map { case (r, i) => (qid, (i + 1).toLong, r.getLong(0), r.getDouble(1)) }
      }
    import s.implicits._
    answers(full).toDF("q_id", "rnk", "vec_id", "cosine")
      .coalesce(1).write.mode("overwrite")
      .parquet(oracleArtifactPath(d, "s19_rebuilt"))
    answers(incr).toDF("q_id", "rnk", "vec_id", "cosine")
  }

  /** s15: hard-negative mining ([[Similarity.hardNegatives]]) — for each
    * of the first 5 vectors as anchors, the 3 most-similar vectors with
    * a DIFFERENT label (the contrastive-training batch-construction
    * primitive). Rank-only output like s5; the label-inequality filter
    * and the cosine ranking both mirror relationally. */
  val s15HardNegatives: Q = (s, d) => {
    val em = embeddings(s, d)
    Similarity.hardNegatives(
      em.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("embedding"), col("label")),
      em, "q_id", "vec_id", "embedding", "embedding", "label", "label",
      k = 3)
      .select(col("q_id"), col("vec_id"), col("rnk").cast("long").as("rnk"))
  }

  /** s16: Matryoshka two-stage retrieval ([[Similarity.matryoshkaTopK]])
    * — coarse top-50 on the first 16 of 64 dims, exact full-dim rerank
    * to top-10. Rank-only output like s1 (robust to last-ulp float
    * noise); ranks assigned driver-side over the already-reduced 10-row
    * result. The oracle replays both stages: the same prefix slice
    * (`embedding[1:16]`), the same coarse cut at 50 with id tie-break,
    * the same full-dim rerank. */
  val s16MatryoshkaTopK: Q = (s, d) => {
    val em = embeddings(s, d)
    val query = em.filter(col("vec_id") === 0)
      .select("embedding").head().getSeq[Float](0)
    val top = Similarity.matryoshkaTopK(
      em.filter(col("vec_id") =!= 0), "vec_id", "embedding", query,
      k = 10, prefixDims = 16, coarseK = 50)
      .select("vec_id").collect()
    import s.implicits._
    top.toSeq.zipWithIndex
      .map { case (r, i) => ((i + 1).toLong, r.getLong(0)) }
      .toDF("rnk", "vec_id")
  }

  /** s9: per-label embedding centroids in long form
    * ([[Similarity.groupCentroidsByDim]]) — the class-prototype builder.
    * Components quantize to 2^-20 fixed point before the sum (exact Long,
    * shuffle-order-independent), one division recovers the mean, so the
    * double `m` column hash-matches the DuckDB oracle. */
  val s9LabelCentroids: Q = (s, d) =>
    Similarity.groupCentroidsByDim(embeddings(s, d), "label", "embedding")

  /** s10: nearest-centroid label-noise flagging
    * ([[Similarity.nearestCentroidLabels]]) — per-label centroids, exact
    * fixed-point dot products, `dot/√centroid_norm` ranking (two IEEE
    * ops on exact Longs), argmax with ties to the lowest label. Every
    * column including the double score hash-matches the oracle. */
  val s10LabelNoise: Q = (s, d) =>
    Similarity.nearestCentroidLabels(embeddings(s, d), "vec_id", "label", "embedding")

  /** s11: unsupervised corpus clustering for mixture balancing — the
    * SemDeDup/DoReMi-adjacent "cluster, then rebalance" first stage:
    * k-means over the embedding corpus (same pinned-seed Lloyd trainer as
    * s4's coarse quantizer), every vector assigned to its nearest centroid
    * by [[Similarity.ivfAssign]] (a scan-side greatest-struct argmax —
    * codegen'd cosine columns, NO shuffle until the final 8-group count),
    * reported as cluster sizes. At 100 TB the assignment is
    * embarrassingly parallel and the aggregate is 8 rows; the only
    * trained state is the k×dim centroid matrix, persisted as a long-form
    * parquet artifact so the DuckDB oracle re-derives the argmax
    * (cos DESC, ties to the HIGHER cluster — Spark struct `greatest`)
    * and the counts from the floats themselves. */
  val s11ClusterSizes: Q = (s, d) => {
    val em = embeddings(s, d)
    val centroids =
      Similarity.kmeansCentroids(em, "embedding", k = 8, iters = 5, seed = 7L)
    locally {
      import s.implicits._
      centroids.zipWithIndex.flatMap { case (c, li) =>
        c.zipWithIndex.map { case (v, p) => (li, p, v) }
      }.toSeq.toDF("list_id", "pos", "val")
        .coalesce(1).write.mode("overwrite")
        .parquet(oracleArtifactPath(d, "s11_centroids"))
    }
    Similarity.ivfAssign(em, "embedding", centroids)
      .groupBy(col("list_id").as("cluster_id"))
      .agg(count(lit(1)).as("n_vecs"), min("vec_id").as("min_vec_id"))
  }

  /** t29: SEMANTIC decontamination ([[Decontam.semanticContamination]]) —
    * benchmark embeddings (vec_id < 20) broadcast against the corpus;
    * max-cosine per corpus vector and the threshold verdict. MAX over
    * doubles is order-independent, and both engines fold each cosine
    * left-to-right in double, so the score hash-matches exactly. */
  val t29SemanticDecontam: Q = (s, d) => {
    val em = embeddings(s, d)
    Decontam.semanticContamination(
      em.filter(col("vec_id") >= 20), "vec_id", "embedding",
      em.filter(col("vec_id") < 20), "embedding", threshold = 0.35)
  }

  /** t27: GPT-style sequence packing ([[Sampling.packWindows]]) — the
    * concatenate-and-cut context assembly every pretraining run does:
    * docs concatenate in doc_id order into one token stream cut into
    * 2048-token windows; each doc reports its global start offset, its
    * window, and whether it straddles a boundary (the attention-loss
    * fraction worth monitoring). The global running sum is the t13
    * distributed prefix-sum shape — per-partition totals to the driver,
    * never a single-partition window. Oracle mirrors t1's token count
    * and the exclusive running sum. */
  val t27PackWindows: Q = (s, d) =>
    Sampling.packWindows(
      documents(s, d).select(
        col("doc_id"),
        TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens")),
      "doc_id", "n_tokens", windowTokens = 2048L)

  /** t28: overlapping passage chunks ([[TextAnalysis.passageChunks]]) —
    * 32-token windows every 24 tokens (8-token overlap, the
    * retrieval-context shape). Scan-side explode, hash-checked including
    * every passage's text. */
  val t28PassageChunks: Q = (s, d) =>
    TextAnalysis.passageChunks(documents(s, d), "doc_id", "text",
      chunkTokens = 32, stride = 24)

  /** t30: Unicode NFC normalization ([[graft.functions.NfcNormalize]]) —
    * the canonical-composition preprocessing every tokenizer/dedup
    * pipeline runs (é as U+00E9 vs e+U+0301 must hash identically). The
    * testdata corpus is ASCII, so each row is AUGMENTED with a decomposed
    * "e"+combining-acute suffix — the hash and length columns prove the
    * expression actually composed it (len_nfc = len_raw − 1), and md5
    * equality pins Java's Normalizer against DuckDB's utf8proc. */
  val t30NfcNormalize: Q = (s, d) => {
    val aug = concat(col("text"), lit(" e\u0301")) // decomposed e + combining acute (spelled as an escape)
    documents(s, d)
      .filter(col("doc_id") < 2000)
      .select(col("doc_id"), md5(nfc_normalize(aug)).as("h"),
        length(aug).cast("long").as("len_raw"),
        length(nfc_normalize(aug)).cast("long").as("len_nfc"))
  }

  /** s13: OPQ-lite rotated PQ serving, oracle-checked END TO END — the
    * s8 flat-PQ pipeline with a seeded random ORTHONORMAL rotation
    * ([[Similarity.randomRotation]], applied scan-side by the codegen
    * [[graft.functions.MatVec]] expression) before the subspace split.
    * The rotation matrix persists as a long-form artifact beside the
    * codebooks, and the DuckDB oracle re-applies it as 64 ordered double
    * folds with a FLOAT narrowing cast per output component (DuckDB's
    * CAST(x AS FLOAT) and Java's double→float narrowing both round to
    * nearest-even, so the rotated vectors are bit-identical), then
    * re-derives codes, LUT, ADC scores, survivor cut, and rerank exactly
    * as s8 does. Only the Lloyd training and the Gram-Schmidt rotation
    * construction are taken as given (persisted); everything downstream
    * faces the hash gate. */
  val s13PqRotatedTopK: Q = (s, d) => {
    val em = embeddings(s, d)
    val rot = Similarity.randomRotation(64, seed = 13L)
    locally {
      import s.implicits._
      rot.zipWithIndex.map { case (v, p) => (p, v) }.toSeq.toDF("pos", "val")
        .coalesce(1).write.mode("overwrite")
        .parquet(oracleArtifactPath(d, "s13_rotation"))
    }
    val rotated = em
      .select(col("vec_id"),
        graft.functions.GraftFunctions.mat_vec(col("embedding"), rot)
          .as("embedding"))
    val query = rotated.filter(col("vec_id") === 0)
      .select("embedding").head().getSeq[Float](0)
    val codebooks =
      Similarity.pqCodebooks(rotated, "embedding", m = 16, ksub = 16, iters = 5, seed = 42L)
    locally {
      import s.implicits._
      codebooks.zipWithIndex.flatMap { case (cents, sub) =>
        cents.zipWithIndex.flatMap { case (cv, c) =>
          cv.zipWithIndex.map { case (v, p) => (sub, c, p, v) }
        }
      }.toSeq.toDF("sub", "c", "pos", "val")
        .coalesce(1).write.mode("overwrite")
        .parquet(oracleArtifactPath(d, "s13_codebooks"))
    }
    Similarity.pqTopK(rotated.filter(col("vec_id") =!= 0), "vec_id", "embedding",
      query, k = 10, codebooks)
      .select("vec_id")
  }

  /** s12: the dot product via BUILT-IN higher-order functions —
    * `zip_with` + `aggregate` (both codegen-free but Catalyst-native,
    * no UDF) against a broadcast literal query vector. This is the
    * no-custom-code path of the [[graft.functions.FloatVectorCosine]]
    * expression family: `aggregate` folds left sequentially, so the
    * double result is bit-reproducible and the DuckDB `list_reduce`
    * oracle matches it exactly (the 0.0 init is absorbed: 0.0 + x ≡ x
    * in IEEE for these magnitudes). Kept alongside the custom
    * expressions as the compatibility baseline users start from before
    * reaching for the codegen kernels. */
  val s12ZipwithDot: Q = (s, d) => {
    val em = embeddings(s, d)
    val query = em.filter(col("vec_id") === 0)
      .select("embedding").head().getSeq[Float](0)
    em.select(
      col("vec_id"),
      aggregate(
        zip_with(col("embedding"), typedlit(query),
          (a, b) => a.cast("double") * b.cast("double")),
        lit(0.0),
        (acc, x) => acc + x).as("dot"))
  }

  /** s14: maximal-marginal-relevance diverse top-10
    * ([[Similarity.mmrSelect]]) — greedy λ·rel − μ·max-sim-to-picked
    * selection over a 32-candidate pool (distributed scan + TakeOrdered;
    * bounded driver greedy). The oracle replays the greedy argmax as a
    * recursive CTE over the same pool, picking with the same literal
    * weights and id tie-break; output is selection order (rnk, vec_id),
    * rank-only like the other ANN queries. */
  val s14MmrDiverse: Q = (s, d) => {
    val em = embeddings(s, d)
    val query = em.filter(col("vec_id") === 0)
      .select("embedding").head().getSeq[Float](0)
    Similarity.mmrSelect(
      em.filter(col("vec_id") =!= 0), "vec_id", "embedding",
      query, k = 10, poolSize = 32, lambda = 0.7, mu = 0.3)
  }

  /** Per-label centroid-free pairwise stats: count pairs per label bucket —
    * exercises the bucketed self-join shape with an exact oracle. */
  val s3LabelBuckets: Q = (s, d) =>
    embeddings(s, d)
      .groupBy("label")
      .agg(count(lit(1)).as("n"), min("vec_id").as("min_id"), max("vec_id").as("max_id"))

  // --- Deterministic sampling / splits ---------------------------------

  /** t7: train/val/test split counts — split membership is a pure function
    * of the id (md5 hex-bucket threshold), reproducible across engines.
    * 90/5/5. */
  val t7HashSplit: Q = (s, d) =>
    documents(s, d)
      .select(Sampling.splitLabel(col("doc_id"), 0.90, 0.05).as("split"))
      .groupBy("split")
      .agg(count(lit(1)).as("n"))

  /** t8: deterministic 10% sample — same rows every run/engine (unlike
    * `df.sample`, which depends on partitioning). */
  val t8DeterministicSample: Q = (s, d) =>
    Sampling.deterministicSample(documents(s, d), "doc_id", 0.10)
      .select("doc_id")

  /** t12: stratified deterministic sampling — per-source keep rates (the
    * domain-mixing primitive). src0 kept whole (exercises the all-inclusive
    * "g" boundary), src1 half, src2 a quarter, everything else 10%. */
  val t12StratifiedSample: Q = (s, d) =>
    Sampling.stratifiedSample(
      documents(s, d), "doc_id", "source",
      Map("src0" -> 1.0, "src1" -> 0.5, "src2" -> 0.25), defaultPct = 0.10)
      .select("doc_id", "source")

  /** t13: token-budget selection — highest-n_chars docs (doc_id ties)
    * until 10k words. Distributed prefix sum (range partition +
    * per-partition offsets), never a single-partition global window.
    * The selection (budget-bound, ~200 ids) is collected inside the
    * [[Sampling.withTokenBudgetSelect]] loan so the operator's persisted
    * frame is released structurally — returning a projection of it would
    * make the cache entry unreachable (unpersist on a projection is a
    * no-op). Same driver-side finish as s1. */
  val t13TokenBudget: Q = (s, d) => {
    val docs = documents(s, d)
      .withColumn("n_words_b", size(split(col("text"), " ")).cast("long"))
    val ids = Sampling.withTokenBudgetSelect(
      docs, "doc_id", "n_words_b", "n_chars", 10000L)(
      _.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq)
    import s.implicits._
    ids.toDF("doc_id")
  }

  /** t16: per-source frequency cap ([[Sampling.perKeyCap]]) — keep at
    * most 10 docs per source by the deterministic md5 rank. Both engines
    * rank by the same (md5 hex, id) total order, so kept rows AND their
    * ranks hash-match exactly. */
  val t16SourceCap: Q = (s, d) =>
    Sampling.perKeyCap(documents(s, d), "doc_id", "source", cap = 10)
      .select(col("doc_id"), col("source"), col("rk"))

  /** t17: mixture up-sampling ([[Sampling.upsampleByWeight]]) — src0 at
    * 2.5 epochs, src1 at 0.5, everything else at 1.0. Copy counts are
    * floor(w) plus the md5-slice extra, so the repeated rows AND their
    * rep indices are integer-deterministic in both engines. */
  val t17MixtureUpsample: Q = (s, d) =>
    Sampling.upsampleByWeight(documents(s, d), "doc_id", "source",
      Map("src0" -> 2.5, "src1" -> 0.5, "src2" -> 1.0))
      .select(col("doc_id"), col("source"), col("rep").cast("long").as("rep"))

  /** t40: temperature-flattened language mixture
    * ([[Sampling.alphaMixtureRates]] at α = 0.5, composed through
    * [[Sampling.stratifiedSample]]) — the mC4 / XLM-R exponential-
    * smoothing resample: keep rate (c_min/c_lang)^(1−α), so the
    * smallest language survives whole and the 'en' head is flattened
    * toward the α-tempered composition. α = 0.5 keeps every derived
    * float bit-stable (one IEEE division + one IEEE sqrt, both
    * correctly rounded in any engine), which makes the per-language
    * 16-bit hash thresholds — and therefore the SELECTED ROW SET —
    * oracle-reproducible. The emitted keep_rate is the same
    * division+sqrt in both engines. */
  val t40AlphaMixture: Q = (s, d) => {
    val docs = documents(s, d)
    val rates = Sampling.alphaMixtureRates(docs, "lang", 0.5)
    val rateCol = rates.toSeq.sortBy(_._1).foldLeft(lit(null).cast("double")) {
      case (acc, (k, v)) => when(col("lang") === k, lit(v)).otherwise(acc)
    }
    Sampling.stratifiedSample(docs, "doc_id", "lang", rates)
      .select(col("doc_id"), col("lang"), rateCol.as("keep_rate"))
  }

  /** t26: per-language length terciles ([[Sampling.scoreBuckets]] — the
    * CCNet head/middle/tail split shape on an exact integer score): each
    * doc lands in its language's token-count tercile via the
    * histogram-based assignment (the corpus never sorts; the cumulative
    * window runs over the (lang, n_tokens) histogram). All-integer
    * cumulative math + one IEEE division → the bucket is
    * oracle-reproducible including ties (a score group shares one
    * bucket by construction). */
  val t26LengthTerciles: Q = (s, d) =>
    Sampling.scoreBuckets(
      documents(s, d).select(col("doc_id"), col("lang"),
        TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens")),
      "lang", "n_tokens", buckets = 3)
      .select("doc_id", "lang", "n_tokens", "bucket")

  /** t59: CURRICULUM training order ([[Sampling.curriculumOrder]]) —
    * t26's exact per-language length terciles composed with t58's
    * deterministic within-bucket shuffle. The operator's contract is
    * the SORT (bucket, shuffle_key) — no global window; the GATE
    * materializes the per-(lang, bucket) rank so the ORDER itself, not
    * just the bucket assignment, faces DuckDB. The rank window here is
    * gate-side presentation over bounded groups, not the operator. */
  val t59Curriculum: Q = (s, d) => {
    val cur = Sampling.curriculumOrder(
      documents(s, d).select(col("doc_id"), col("lang"),
        TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens")),
      "doc_id", "lang", "n_tokens", buckets = 3, seed = "cur1")
    cur.withColumn("pos", row_number().over(
        Window.partitionBy("lang", "bucket")
          .orderBy(col("shuffle_key").asc, col("doc_id").asc)).cast("long"))
      .select("doc_id", "lang", "bucket", "pos")
  }

  // --- Repetition / contamination gates ---------------------------------

  /** t9: Gopher-style word-repetition signals — top-word fraction and
    * type/token ratio per document. Exact ints + one IEEE division each →
    * oracle-checked. */
  val t9Repetition: Q = (s, d) =>
    TextAnalysis.ngramRepetitionStats(documents(s, d), "doc_id", "text", 1)

  /** t10: phrase repetition — same signals over word 2-grams
    * (multiplicity-preserving shingles, NOT the distinct LSH kernel). */
  val t10TopNgram: Q = (s, d) =>
    TextAnalysis.ngramRepetitionStats(documents(s, d), "doc_id", "text", 2)

  /** t11: benchmark decontamination — corpus docs (doc_id % 97 != 0)
    * sharing a verbatim 4-token shingle with the held-out "benchmark"
    * docs (doc_id % 97 == 0). Broadcast benchmark shingle set; w=4 picked
    * so shared shingles are evidence of copying, not chance collision, on
    * the synthetic corpus's 31-word vocabulary. */
  val t11Decontam: Q = (s, d) => {
    val docs = documents(s, d)
    Decontam.contaminationHits(
      docs.filter(col("doc_id") % 97 =!= 0),
      docs.filter(col("doc_id") % 97 === 0),
      "doc_id", "text", w = 4)
  }

  /** Bigram-LM novelty scoring (CCNet/KenLM quality-filter shape): each
    * doc scored by the fraction of its token bigrams absent from a
    * reference slice's vocabulary (sources src0/src1 as the "curated"
    * domain). Exact integer counts + one IEEE division, broadcast
    * reference vocabulary — hash-checked end to end. */
  /** t34: WITHIN-document repeated-chunk removal
    * ([[Dedup.selfChunkDedup]]) — d11's dedup semantics scoped to each
    * document alone (generation-stutter / boilerplate self-repetition
    * scrubbing), as a pure scan-side expression chain: ZERO shuffles,
    * plan-gated. 2-token chunks so the word-soup corpus exhibits real
    * repeats (~180 of 500 docs at sf0.01). */
  val t34SelfChunkDedup: Q = (s, d) =>
    Dedup.selfChunkDedup(documents(s, d), "doc_id", "text", chunkTokens = 2)

  /** t33: DSIR hashed-unigram importance weights
    * ([[Importance.dsirWeights]]) — every document scored by how much
    * its hashed feature profile pulls toward the English sub-corpus as
    * the target (the label-free "find target-like pages in raw crawl"
    * selector). 64 buckets so the oracle's ratio table is tiny; the
    * operator default is 4096. Oracle-exact: md5 bucketing, three
    * fixed-order IEEE divisions for the smoothed ratio, and a
    * bucket-ordered fold for the weight — no libm (the log-likelihood
    * form is deliberately linearized, see the operator doc). */
  val t33DsirWeights: Q = (s, d) => {
    val docs = documents(s, d)
    Importance.dsirWeights(
      docs, docs.filter(col("lang") === "en"), "doc_id", "text",
      buckets = 64)
  }

  val t18LmNovelty: Q = (s, d) => {
    val docs = documents(s, d)
    LmScore.bigramNovelty(
      docs, docs.filter(col("source").isin("src0", "src1")),
      "doc_id", "text")
      .orderBy("doc_id")
  }

  /** t31: frequency-weighted LM familiarity
    * ([[LmScore.bigramFamiliarity]]) — average reference-corpus count of
    * each document's bigrams, the KenLM-flavored companion of t18's
    * seen/unseen novelty. Exact integer counts + one final division. */
  val t31BigramFamiliarity: Q = (s, d) => {
    val docs = documents(s, d)
    LmScore.bigramFamiliarity(
      docs, docs.filter(col("source").isin("src0", "src1")),
      "doc_id", "text")
      .orderBy("doc_id")
  }

  /** KMV distinct-count sketch vs exact (per-lang distinct bigrams): the
    * bounded-state bottom-k aggregate ([[graft.operators.Sketches]],
    * a real `TypedImperativeAggregate` with map-side partials) next to
    * the exact count it estimates — the sketch-accuracy report a pipeline
    * publishes. md5-prefix hashes make every held value and the single
    * final division reproducible in the oracle. */
  val a9KmvDistinct: Q = (s, d) => {
    val bgs = documents(s, d)
      .select(col("lang"), explode(LmScore.bigrams(col("text"))).as("bg"))
    val sk = Sketches.kmvDistinct(bgs, Seq("lang"), "bg", k = 64)
    val exact = bgs.groupBy("lang").agg(countDistinct("bg").as("exact_bigrams"))
    exact.join(sk, Seq("lang")).orderBy("lang")
  }

  /** a19: HyperLogLog distinct-count sketch vs exact (same per-lang
    * bigram corpus as a9, so the two sketch families are directly
    * comparable in one report): FIXED 64-byte state per group vs KMV's
    * 64 longs, elementwise-max merge. The register array is
    * integer-exact; the harmonic sum is kept exact by power-of-two
    * scaling ([[Sketches.hllDistinct]]), so the estimate's single IEEE
    * division hash-matches the oracle. */
  val a19HllDistinct: Q = (s, d) => {
    val bgs = documents(s, d)
      .select(col("lang"), explode(LmScore.bigrams(col("text"))).as("bg"))
    val sk = Sketches.hllDistinct(bgs, Seq("lang"), "bg")
    val exact = bgs.groupBy("lang").agg(countDistinct("bg").as("exact_bigrams"))
    exact.join(sk, Seq("lang")).orderBy("lang")
  }

  /** a20: Count-Min frequency sketch ([[Sketches.CountMinCounters]], 4×256)
    * over the corpus token stream — point-query estimates for the 30 most
    * frequent tokens next to their exact counts (CM is an overestimate;
    * at this width the top of the distribution is near-exact, the gauge
    * the query exposes). Hashing is the salted-md5 family computed
    * scan-side, the aggregate is bounded integer vector adds with
    * map-side partials (one 8 KB state per executor, never a token-keyed
    * shuffle), and the single-row sketch broadcasts into the probe — all
    * integers, so the oracle replays the counters cell by cell. */
  val a20CountMin: Q = (s, d) => {
    val dep = 4; val w = 256
    val toks = documents(s, d)
      .select(explode(split(lower(col("text")), " ")).as("tok"))
      .filter(col("tok") =!= "")
    val sketch = toks.agg(
      Sketches.countMinCounters(Sketches.cmPositions(col("tok"), dep, w), dep, w)
        .as("cm"))
    val top = toks.groupBy("tok").agg(count(lit(1)).as("exact_cnt"))
      .orderBy(col("exact_cnt").desc, col("tok").asc).limit(30)
    top.crossJoin(broadcast(sketch))
      .select(col("tok"), col("exact_cnt"),
        Sketches.cmEstimate(col("cm"), col("tok"), dep, w).as("cm_estimate"))
  }

  /** a22: HLL register-UNION algebra — the sketch-merge path a
    * federated corpus runs: each source keeps its own 64-register HLL
    * at rest; the corpus-wide distinct estimate comes from the
    * ELEMENTWISE MAX of the 20 source sketches (64 longs each), never a
    * rescan of rows. Max is associative/idempotent, so union-of-sketches
    * ≡ the sketch of the union — which is exactly what the gate proves:
    * the Spark side computes per-source registers then merges; the
    * oracle computes the whole-corpus registers directly; the hash can
    * only match if the algebra holds. Same exact-integer scaling + one
    * IEEE division as a19. */
  val a22HllUnion: Q = (s, d) => {
    val bgs = documents(s, d)
      .select(col("source"), explode(LmScore.bigrams(col("text"))).as("bg"))
    val perSource = bgs.groupBy("source")
      .agg(Sketches.hllRegisters(Sketches.md5Hash60(col("bg")), 6).as("regs"))
    val merged = perSource
      .select(posexplode(col("regs")).as(Seq("pos", "r")))
      .groupBy("pos").agg(max("r").as("r"))
    val stats = merged.agg(
      sum(when(col("r") > 0, 1L).otherwise(0L)).as("n_nonzero"),
      sum(expr("shiftleft(CAST(1 AS BIGINT), CAST(55 - r AS INT))")).as("s_scaled"))
    val exact = bgs.agg(countDistinct("bg").as("exact_bigrams"))
    exact.crossJoin(stats)
      .withColumn("hll_estimate",
        lit(0.709) * lit(4096.0) * lit(36028797018963968.0) /
          col("s_scaled").cast("double"))
  }

  /** a17: cross-corpus overlap via KMV sketch algebra
    * ([[Sketches.kmvPairwiseOverlap]]) — per-source-pair Jaccard of the
    * bigram sets estimated from bounded k-min sketches (no cross-source
    * join touches row data), next to the exact Jaccard the estimate
    * approximates (the sf0.01 quality gauge; at 100 TB only the sketch
    * path survives). Exact ints + one division per column pair. */
  val a17KmvOverlap: Q = (s, d) => {
    val bgs = documents(s, d)
      .select(col("source"), explode(LmScore.bigrams(col("text"))).as("bg"))
    val est = Sketches.kmvPairwiseOverlap(bgs, "source", "bg", k = 64)
    val dist = bgs.distinct()
    val sizes = dist.groupBy("source").agg(count(lit(1)).as("n"))
    val shared = dist.as("a")
      .join(dist.as("b"),
        col("a.bg") === col("b.bg") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("source_a"), col("b.source").as("source_b"))
      .agg(count(lit(1)).as("exact_shared"))
    val exact = shared
      .join(sizes.withColumnRenamed("source", "source_a")
        .withColumnRenamed("n", "n_a"), Seq("source_a"))
      .join(sizes.withColumnRenamed("source", "source_b")
        .withColumnRenamed("n", "n_b"), Seq("source_b"))
      .withColumn("exact_jaccard",
        col("exact_shared").cast("double") /
          (col("n_a") + col("n_b") - col("exact_shared")))
      .select("source_a", "source_b", "exact_shared", "exact_jaccard")
    est.join(exact, Seq("source_a", "source_b"))
      .orderBy("source_a", "source_b")
  }

  /** PII scrub audit — deterministic emails/phones planted from doc_id
    * (the corpus text itself is synthetic vocab words), then the
    * RE2-safe [[graft.operators.Pii]] patterns count and redact them;
    * output carries md5 of the redacted text so the oracle verifies the
    * rewrite byte-for-byte, not just the counts. */
  val t19PiiRedact: Q = (s, d) => {
    val aug = documents(s, d).select(
      col("doc_id"),
      concat(
        col("text"),
        when(col("doc_id") % 3 === 0,
          concat(lit(" contact user"), col("doc_id").cast("string"),
            lit("@mail.example.com now"))).otherwise(lit("")),
        when(col("doc_id") % 5 === 0,
          concat(lit(" call 555-"),
            lpad((col("doc_id") % 1000).cast("string"), 3, "0"), lit("-"),
            lpad(((col("doc_id") * 7) % 10000).cast("string"), 4, "0")))
          .otherwise(lit(""))).as("t"))
    Pii.piiStats(aug, "doc_id", "t")
      .select(col("doc_id"), col("n_emails"), col("n_phones"),
        md5(col("redacted")).as("redacted_md5"))
      .orderBy("doc_id")
  }

  /** Bloom-filter membership pre-filter, measured: build an 8192-bit
    * filter over the reference slice's bigrams, probe every other
    * source's bigrams, and report flagged / actually-present / false
    * positives / false negatives per lang. The false-negative column
    * being all zero IS the Bloom guarantee, driver-checked; the handful
    * of false positives is the tunable cost. */
  val t20BloomMembership: Q = (s, d) => {
    val docs = documents(s, d)
    val isRef = col("source").isin("src0", "src1")
    val refBg = docs.filter(isRef)
      .select(explode(LmScore.bigrams(col("text"))).as("bg")).distinct()
    val bloom = BloomSet.build(refBg, "bg", m = 8192, k = 2)
    val probes = docs.filter(!isRef)
      .select(col("lang"), explode(LmScore.bigrams(col("text"))).as("bg"))
      .distinct()
    BloomSet.mightContain(probes, "bg", bloom, m = 8192, k = 2)
      .join(refBg.withColumn("present", lit(1)), Seq("bg"), "left")
      .groupBy("lang")
      .agg(
        count(lit(1)).as("n_probes"),
        sum(when(col("might_contain"), 1L).otherwise(0L)).as("n_flagged"),
        sum(when(col("present").isNotNull, 1L).otherwise(0L)).as("n_present"),
        sum(when(col("might_contain") && col("present").isNull, 1L)
          .otherwise(0L)).as("n_false_pos"),
        sum(when(!col("might_contain") && col("present").isNotNull, 1L)
          .otherwise(0L)).as("n_false_neg"))
      .orderBy("lang")
  }

  // --- Multimodal -------------------------------------------------------

  /** Binary-column metadata over text-as-bytes (no real media in testdata):
    * byte length + sha256 — the first derived scan of any multimodal table. */
  val m1BinaryMeta: Q = (s, d) =>
    Multimodal.withBinaryMeta(
        documents(s, d).select(col("doc_id"), col("text").cast("binary").as("payload")),
        "payload")
      .select(col("doc_id"), col("n_bytes").cast("long").as("n_bytes"), substring(col("content_sha"), 1, 16).as("sha16"))

  /** Real container-metadata decode — oracle-checked. Deterministic
    * PNG/GIF/JPEG/unknown payloads are constructed per doc_id (no image
    * libs in the environment, and documents.text is not an image), then
    * the codegen'd [[graft.functions.ImageFormat]]/Width/Height
    * expressions extract format and pixel dimensions from the real
    * container headers: PNG IHDR big-endian at bytes 16–23, GIF logical
    * screen little-endian at bytes 6–9, JPEG via the SOF segment walk
    * (here a canonical APP0+SOF0 layout, so the oracle can extract at the
    * layout's known offsets — a walk bug lands elsewhere and mismatches;
    * variable-offset robustness is unit-tested in FunctionsSpec). DuckDB
    * rebuilds both sides via hex-string arithmetic. */
  val m2ImageMeta: Q = (s, d) => {
    val doc = documents(s, d).filter(col("doc_id") < 50)
    // PNG: signature + IHDR header + width/height (BE u32) + bit depth etc.
    val pngPayload = unhex(concat(
      lit("89504E470D0A1A0A" + "0000000D" + "49484452"),
      lpad(hex(lit(100) + col("doc_id") % 100), 8, "0"),
      lpad(hex(lit(50) + col("doc_id") % 100), 8, "0"),
      lit("0806000000")))
    // GIF89a: magic + logical screen width/height (LE u16) + flags
    val gifW = lit(200) + col("doc_id") % 100
    val gifH = lit(120) + col("doc_id") % 100
    val gifPayload = unhex(concat(
      lit("474946383961"),
      lpad(hex(gifW % 256), 2, "0"), lpad(hex(gifW / 256), 2, "0"),
      lpad(hex(gifH % 256), 2, "0"), lpad(hex(gifH / 256), 2, "0"),
      lit("F70000")))
    // JPEG: SOI + 16-byte APP0/JFIF + SOF0 (height/width BE u16 at +5/+7)
    val jpegPayload = unhex(concat(
      lit("FFD8" + "FFE00010" + "4A46494600" + "0101" + "00" + "00010001" + "0000" +
        "FFC00011" + "08"),
      lpad(hex(lit(80) + col("doc_id") % 100), 4, "0"),
      lpad(hex(lit(160) + col("doc_id") % 100), 4, "0"),
      lit("03" + "011100021101031101")))
    doc
      .withColumn("payload",
        when(col("doc_id") % 4 === 0, pngPayload)
          .when(col("doc_id") % 4 === 1, gifPayload)
          .when(col("doc_id") % 4 === 2, jpegPayload)
          .otherwise(col("text").cast("binary")))
      .select(
        col("doc_id"),
        graft.functions.GraftFunctions.image_format(col("payload")).as("format"),
        graft.functions.GraftFunctions.image_width(col("payload")).cast("long").as("width"),
        graft.functions.GraftFunctions.image_height(col("payload")).cast("long").as("height"))
  }

  /** m4: audio-container metadata — the WAV counterpart of m2.
    * Deterministic canonical 44-byte PCM headers are constructed per
    * doc_id (RIFF size, channels, sample rate, byte rate, data size all
    * little-endian), then the codegen'd RIFF chunk walker
    * ([[graft.functions.AudioMetaUtil]]) extracts channels / sample rate /
    * duration. The oracle rebuilds the same hex strings and re-parses at
    * the canonical layout's offsets (cross-checked against Python's
    * `wave` module before landing); non-canonical chunk layouts are
    * unit-tested in FunctionsSpec. */
  val m4AudioMeta: Q = (s, d) => {
    val doc = documents(s, d).filter(col("doc_id") < 60)
    val ch = lit(1) + col("doc_id") % 3
    val rate = when(col("doc_id") % 3 === 0, 8000L)
      .when(col("doc_id") % 3 === 1, 16000L).otherwise(44100L)
    val byteRate = rate * ch * 2
    val dataSize = lit(2000) + col("doc_id") * 4
    def le16h(c: Column) = concat(
      lpad(hex(c % 256), 2, "0"), lpad(hex(shiftright(c, 8) % 256), 2, "0"))
    def le32h(c: Column) = concat(le16h(c),
      lpad(hex(shiftright(c, 16) % 256), 2, "0"),
      lpad(hex(shiftright(c, 24) % 256), 2, "0"))
    val wav = unhex(concat(
      lit("52494646"), le32h(dataSize + 36), lit("57415645"),
      lit("666D7420"), lit("10000000"), lit("0100"),
      le16h(ch), le32h(rate), le32h(byteRate), le16h(ch * 2), lit("1000"),
      lit("64617461"), le32h(dataSize)))
    doc
      .withColumn("payload",
        when(col("doc_id") % 2 === 0, wav).otherwise(col("text").cast("binary")))
      .select(
        col("doc_id"),
        graft.functions.GraftFunctions.audio_format(col("payload")).as("aformat"),
        graft.functions.GraftFunctions.audio_channels(col("payload")).cast("long").as("channels"),
        graft.functions.GraftFunctions.audio_sample_rate(col("payload")).as("sample_rate"),
        graft.functions.GraftFunctions.audio_duration_ms(col("payload")).as("duration_ms"))
  }

  /** m5: video-container metadata — MP4 (ISO-BMFF) completes the
    * image/audio/video metadata triple. Deterministic canonical
    * `ftyp + moov(mvhd + trak(tkhd))` trees are constructed per doc_id
    * (all fields big-endian, 16.16 fixed-point dimensions), then the
    * codegen'd box walker ([[graft.functions.VideoMetaUtil]]) extracts
    * duration (mvhd timescale/duration) and the first track's pixel
    * dimensions. Oracle re-extracts at the canonical layout's offsets
    * (template cross-validated against an independent Python box walker
    * before landing); box-order robustness is unit-tested. */
  val m5VideoMeta: Q = (s, d) => {
    val doc = documents(s, d).filter(col("doc_id") < 60)
    val ts = when(col("doc_id") % 3 === 0, 600L)
      .when(col("doc_id") % 3 === 1, 1000L).otherwise(90000L)
    val durUnits = ts * (lit(5) + col("doc_id") % 20)
    val w = lit(320) + col("doc_id") % 100
    val hgt = lit(180) + col("doc_id") % 100
    def be32h(c: Column) = lpad(hex(c), 8, "0")
    val zeros = (n: Int) => "00000000" * n
    val matrix = "00010000" + zeros(3) + "00010000" + zeros(3) + "40000000"
    val mp4 = unhex(concat(
      lit("00000010" + "66747970" + "69736F6D" + "00000200" +
        "000000D8" + "6D6F6F76" +
        "0000006C" + "6D766864" + zeros(3)),
      be32h(ts), be32h(durUnits),
      lit("00010000" + "01000000" + zeros(2) + matrix + zeros(6) + "00000002" +
        "00000064" + "7472616B" +
        "0000005C" + "746B6864" + "00000007" + zeros(2) +
        "00000001" + zeros(4) + "0000" * 4 + matrix),
      lpad(hex(w), 4, "0"), lit("0000"),
      lpad(hex(hgt), 4, "0"), lit("0000")))
    doc
      .withColumn("payload",
        when(col("doc_id") % 2 === 0, mp4).otherwise(col("text").cast("binary")))
      .select(
        col("doc_id"),
        graft.functions.GraftFunctions.video_format(col("payload")).as("vformat"),
        graft.functions.GraftFunctions.video_width(col("payload")).cast("long").as("width"),
        graft.functions.GraftFunctions.video_height(col("payload")).cast("long").as("height"),
        graft.functions.GraftFunctions.video_duration_ms(col("payload")).as("duration_ms"))
  }

  /** M6: REAL image decode — deterministic RGB pixels (closed-form
    * formula per (doc, pixel)) → real PNG encode (`BufferedImage` +
    * `ImageIO.write`, executor-side batched mapPartitions) → real PNG
    * decode (`ImageIO.read`) → exact integer per-channel sums. The
    * DuckDB oracle computes width/height/channel sums from the SAME
    * pixel formula without ever seeing a PNG, so a hash match proves the
    * encode → decode cycle reproduced every pixel bit-exactly — the
    * decode step is the real thing, not the metadata walk of m2. */
  val m6ImageDecode: Q = (s, d) => {
    val doc = documents(s, d).filter(col("doc_id") < 40)
    val w = (lit(4) + pmod(col("doc_id"), lit(5))).cast("int")
    val h = (lit(3) + pmod(col("doc_id"), lit(3))).cast("int")
    val px = transform(
      sequence(lit(0L), w.cast("long") * h.cast("long") - 1L),
      i => (pmod(col("doc_id") * 7 + i * 13, lit(256)) * 65536L +
        pmod(col("doc_id") * 11 + i * 5, lit(256)) * 256L +
        pmod(col("doc_id") * 3 + i * 17, lit(256))).cast("int"))
    val pixels = doc.select(col("doc_id"), w.as("w"), h.as("h"), px.as("px"))
    val png = Multimodal.encodePngBatched(pixels, "doc_id", "w", "h", "px")
    Multimodal.decodeImageStatsBatched(png, "doc_id", "png")
  }

  /** M8: perceptual average-hash from REAL decoded pixels
    * ([[Multimodal.decodeImageAHashBatched]]) — the image near-dup
    * signature, m6's encode→decode plumbing pointed at dedup: bit_i =
    * `gray_i·N > Σgray` (integer mean-threshold, no division), packed
    * into a long. The oracle computes the SAME hash from the pixel
    * formula without ever seeing a PNG — a match proves codec
    * round-trip AND hash kernel together. */
  val m8ImageAhash: Q = (s, d) => {
    val doc = documents(s, d).filter(col("doc_id") < 40)
    val w = (lit(4) + pmod(col("doc_id"), lit(5))).cast("int")
    val h = (lit(3) + pmod(col("doc_id"), lit(3))).cast("int")
    val px = transform(
      sequence(lit(0L), w.cast("long") * h.cast("long") - 1L),
      i => (pmod(col("doc_id") * 7 + i * 13, lit(256)) * 65536L +
        pmod(col("doc_id") * 11 + i * 5, lit(256)) * 256L +
        pmod(col("doc_id") * 3 + i * 17, lit(256))).cast("int"))
    val pixels = doc.select(col("doc_id"), w.as("w"), h.as("h"), px.as("px"))
    val png = Multimodal.encodePngBatched(pixels, "doc_id", "w", "h", "px")
    Multimodal.decodeImageAHashBatched(png, "doc_id", "png")
  }

  /** m12: IMAGE NEAR-DUP pairs ([[Dedup.imageNearDupPairs]]) — m8's
    * aHash signatures composed into the banded-Hamming join, end to end
    * through the REAL codec: closed-form RGB pixels → canonical PNG →
    * real javax.imageio decode → mean-threshold aHash → 4×16-bit band
    * buckets → exact `bit_count(xor) <= 3` within buckets. The corpus
    * is the 40 m8 images PLUS a near-identical copy of each (id+1000,
    * red channel +37 on every third pixel — below the aHash threshold
    * for most bits, so the planted pairs land at Hamming 0–3 and a
    * couple legitimately exceed the cutoff, exercising both the band
    * rotation and the Hamming verify). maxHamming=3 < bands=4 is the
    * COMPLETE regime (pigeonhole), so the output is the exact pair set;
    * the oracle recomputes both hash families from the pixel FORMULAS
    * without ever seeing a PNG and replays the same banded join. */
  val m12ImageNearDup: Q = (s, d) => {
    val doc = documents(s, d).filter(col("doc_id") < 40)
    val w = (lit(4) + pmod(col("doc_id"), lit(5))).cast("int")
    val h = (lit(3) + pmod(col("doc_id"), lit(3))).cast("int")
    def px(noise: Column => Column) = transform(
      sequence(lit(0L), w.cast("long") * h.cast("long") - 1L),
      i => (pmod(col("doc_id") * 7 + i * 13 + noise(i), lit(256)) * 65536L +
        pmod(col("doc_id") * 11 + i * 5, lit(256)) * 256L +
        pmod(col("doc_id") * 3 + i * 17, lit(256))).cast("int"))
    val base = doc.select(col("doc_id"), w.as("w"), h.as("h"),
      px(_ => lit(0L)).as("px"))
    // two-step select: aliasing doc_id to doc_id+1000 in the SAME
    // projection would capture the px expression via Spark 4's lateral
    // column alias resolution (px would see the SHIFTED id) — compute
    // the pixels against the base id first, rename after
    val copies = doc.select(col("doc_id"), w.as("w"), h.as("h"),
        px(i => when(pmod(i, lit(3)) === 0, lit(37L)).otherwise(lit(0L))).as("px"))
      .select((col("doc_id") + 1000L).as("doc_id"),
        col("w"), col("h"), col("px"))
    val png = Multimodal.encodePngBatched(
      base.unionByName(copies), "doc_id", "w", "h", "px")
    val hashed = Multimodal.decodeImageAHashBatched(png, "doc_id", "png")
    val pairs = Dedup.imageNearDupPairs(hashed, "doc_id",
      "width", "height", "ahash", maxHamming = 3, bands = 4)
    // imageNearDupPairs returns pinned (caller-owned): bind the result
    // to a driver-stable frame and release the pin
    val out = pairs.localCheckpoint(true)
    pairs.unpersist(blocking = false)
    out
  }

  /** m9: REAL pixel decode + integer box-filter downsample
    * ([[Multimodal.decodeImageResizeBatched]]) — closed-form RGB pixels
    * → canonical PNG → real javax.imageio decode → 2×2 cell sums folded
    * into an order-sensitive checksum. The oracle recomputes cell
    * membership and the checksum from the pixel FORMULA without seeing
    * a PNG: a match proves the codec round-trip AND the resize kernel's
    * cell geometry together (the m8 proof shape, extended from a global
    * statistic to per-cell structure). */
  val m9ImageResize: Q = (s, d) => {
    val doc = documents(s, d).filter(col("doc_id") < 40)
    // even dims only: 4/6/8 × 2/4 — factor-2 cells divide exactly
    val w = (lit(4) + pmod(col("doc_id"), lit(3)) * 2).cast("int")
    val h = (lit(2) + pmod(col("doc_id"), lit(2)) * 2).cast("int")
    val px = transform(
      sequence(lit(0L), w.cast("long") * h.cast("long") - 1L),
      i => (pmod(col("doc_id") * 7 + i * 13, lit(256)) * 65536L +
        pmod(col("doc_id") * 11 + i * 5, lit(256)) * 256L +
        pmod(col("doc_id") * 3 + i * 17, lit(256))).cast("int"))
    val pixels = doc.select(col("doc_id"), w.as("w"), h.as("h"), px.as("px"))
    val png = Multimodal.encodePngBatched(pixels, "doc_id", "w", "h", "px")
    Multimodal.decodeImageResizeBatched(png, "doc_id", "png", factor = 2)
  }

  /** m10: REAL JPEG round-trip ([[Multimodal.encodeImageBatched]] with
    * the JDK's lossy "jpg" writer → [[Multimodal.decodeImageStatsBatched]])
    * — closes the last image-codec stub. JPEG preserves DIMENSIONS
    * exactly and pixels only approximately, so the hard oracle pins the
    * closed-form width/height plus a decoded_ok flag (stats non-null and
    * the channel sums inside their mathematical [0, 255·w·h] bounds);
    * pixel fidelity for smooth content is tolerance-gated in
    * MultimodalSpec where approximate values belong. */
  val m10JpegDecode: Q = (s, d) => {
    val doc = documents(s, d).filter(col("doc_id") < 40)
    val w = (lit(4) + pmod(col("doc_id"), lit(5))).cast("int")
    val h = (lit(3) + pmod(col("doc_id"), lit(3))).cast("int")
    val px = transform(
      sequence(lit(0L), w.cast("long") * h.cast("long") - 1L),
      i => (pmod(col("doc_id") * 7 + i * 13, lit(256)) * 65536L +
        pmod(col("doc_id") * 11 + i * 5, lit(256)) * 256L +
        pmod(col("doc_id") * 3 + i * 17, lit(256))).cast("int"))
    val pixels = doc.select(col("doc_id"), w.as("w"), h.as("h"), px.as("px"))
    val jpg = Multimodal.encodeImageBatched(pixels, "doc_id", "w", "h", "px",
      format = "jpg", outCol = "img")
    val maxSum = col("width").cast("long") * col("height") * 255L
    Multimodal.decodeImageStatsBatched(jpg, "doc_id", "img")
      .select(col("doc_id"), col("width"), col("height"),
        (col("sum_r").isNotNull && col("sum_g").isNotNull &&
          col("sum_b").isNotNull &&
          col("sum_r").between(0L, maxSum) &&
          col("sum_g").between(0L, maxSum) &&
          col("sum_b").between(0L, maxSum)).as("decoded_ok"))
  }

  /** M7: REAL audio decode — deterministic 16-bit PCM samples
    * (closed-form per (doc, sample)) → canonical WAV bytes → real parse
    * through `javax.sound.sampled.AudioSystem` → format fields, frame
    * count, and the exact integer sample sum. Same proof shape as m6:
    * the oracle recomputes the sum from the formula; matching means the
    * PCM round-tripped through the real audio stack bit-exactly. */
  val m7AudioDecode: Q = (s, d) => {
    val doc = documents(s, d).filter(col("doc_id") < 40)
    val n = (lit(50) + pmod(col("doc_id"), lit(7)) * 10).cast("int")
    val smp = transform(
      sequence(lit(0), n - 1),
      i => (pmod(col("doc_id") * 7 + i * 13, lit(2001)) - 1000).cast("int"))
    val sdf = doc.select(col("doc_id"), smp.as("smp"))
    val wav = Multimodal.encodeWavPcm16Batched(sdf, "doc_id", "smp", 16000, 1)
    Multimodal.decodeWavStatsBatched(wav, "doc_id", "wav")
  }

  /** m11: REAL video frames — closed-form grayscale frames → ANIMATED
    * GIF through the `javax.imageio` sequence writer → real multi-frame
    * decode ([[Multimodal.decodeGifFramesBatched]]), one row per frame
    * with exact integer gray sums. The m6/m7 proof shape for the video
    * container: the oracle recomputes frame count, dimensions, and each
    * frame's pixel-formula sum without seeing a GIF, so a hash match
    * pins the whole encode → container → iterate → decode chain.
    * Replaces the byte-window stub (m3) as the real-codec sibling. */
  val m11GifFrames: Q = (s, d) => {
    val doc = documents(s, d).filter(col("doc_id") < 30)
    val w = (lit(4) + pmod(col("doc_id"), lit(3)) * 2).cast("int")
    val h = (lit(2) + pmod(col("doc_id"), lit(2)) * 2).cast("int")
    val nf = (lit(1) + pmod(col("doc_id"), lit(3))).cast("int")
    val frames = transform(sequence(lit(0), nf - 1), f =>
      transform(
        sequence(lit(0L), w.cast("long") * h.cast("long") - 1L),
        i => pmod(col("doc_id") * 7 + f * 11 + i * 13, lit(256)).cast("int")))
    val src = doc.select(col("doc_id"), w.as("w"), h.as("h"), frames.as("frames"))
    val gif = Multimodal.encodeGifAnimatedBatched(
      src, "doc_id", "w", "h", "frames", outCol = "gif")
    Multimodal.decodeGifFramesBatched(gif, "doc_id", "gif")
  }

  /** Frame-sampling plumbing: one row per byte-window "frame". */
  val m3FrameWindows: Q = (s, d) =>
    Multimodal.frameWindows(
      documents(s, d).filter(col("doc_id") < 20)
        .select(col("doc_id"), col("text").cast("binary").as("payload")),
      "doc_id", "payload", 4)

  /** t47: BM25 ranked retrieval ([[TextAnalysis.bm25TopK]]) — the
    * targeted-subset-mining search primitive, Lucene-default scoring
    * (k1=1.2, b=0.75, non-negative idf) for a 3-term query over the
    * corpus. Zero corpus shuffle: per-term TF is scan-side, global stats
    * are one broadcast row, the only ordering is the final TakeOrdered.
    * Rank-only output (the s1 float convention) plus the integer tf
    * vector; the oracle replays the same tokenization, stats, and score
    * formula relationally and must produce the same top-20 ranking. */
  val t47Bm25: Q = (s, d) =>
    TextAnalysis.bm25TopK(
      documents(s, d), "doc_id", "text",
      queryTerms = Seq("spark", "join", "customer"), k = 20)

  /** t48: blocklist filtering ([[TextAnalysis.blocklistStats]]) — exact
    * whole-token hit counts for a 4-token blocklist plus the flag at
    * maxHits=2, all scan-side (no explode, no shuffle; the op rides any
    * scan that already reads the text). Every output is an integer or a
    * boolean, so the oracle is exact. */
  val t48Blocklist: Q = (s, d) =>
    TextAnalysis.blocklistStats(
      documents(s, d), "doc_id", "text",
      blocked = Seq("slow", "hash", "spark", "window"), maxHits = 2)

  /** t49: per-domain corpus stats ([[TextAnalysis.domainStats]]) — URL
    * host extraction + registrable-domain rollup, the C4-style curation
    * key (per-domain caps, domain mixing, blocklist audits). URLs are
    * synthesized closed-form into the text (every 3rd doc has none — the
    * drop path); hosts have a subdomain so the registrable-domain
    * truncation is actually exercised. Exact integer outputs. */
  val t49DomainStats: Q = (s, d) => {
    val e = col("doc_id")
    val aug = documents(s, d).select(
      e,
      when(pmod(e, lit(3)) === 0, col("text"))
        .otherwise(concat(
          col("text"), lit(" see https://sub"), pmod(e, lit(7)).cast("string"),
          lit(".site"), pmod(e, lit(13)).cast("string"),
          lit(".com/page"), e.cast("string"), lit(" end"))).as("t"))
    TextAnalysis.domainStats(aug, "doc_id", "t")
  }

  /** t50: consecutive duplicate-token-run removal
    * ([[TextAnalysis.dedupTokenRuns]]) — the span-level repetition
    * rewrite (fix "the the the", keep the doc). A planted `rep rep rep`
    * suffix guarantees every row exercises the removal; natural adjacent
    * repeats in the corpus dedup too, and the oracle replays the same
    * keep-rule (token ≠ its predecessor) with a lag window + ordered
    * string_agg — exact string equality end to end. */
  val t50RunDedup: Q = (s, d) => {
    val aug = documents(s, d).select(
      col("doc_id"),
      concat(col("text"), lit(" rep rep rep tail")).as("t"))
    TextAnalysis.dedupTokenRuns(aug, "doc_id", "t")
      .select(col("doc_id"), col("text_dedup"), col("n_removed"))
  }

  /** d17: sorted-neighborhood blocking ([[Dedup.sortedNeighborhoodPairs]])
    * — the entity-resolution candidate generator (SNM): sort by an
    * 8-char text prefix within 1-char blocks, pair each doc with its 3
    * sort predecessors. Complements LSH (sort locality catches prefix
    * typos token overlap misses). Deterministic: the sort is the total
    * order (key, doc_id); the oracle replays it with row_number and a
    * rank-distance self-join. */
  val d17SortedNeighborhood: Q = (s, d) =>
    Dedup.sortedNeighborhoodPairs(
      documents(s, d).select(col("doc_id"), substring(col("text"), 1, 8).as("k")),
      "doc_id", "k", window = 3)

  /** t54: leakage-safe GROUPED train/val/test split — assignment keyed on
    * the registrable DOMAIN's hash, never the doc's: near-duplicates
    * cluster within a site, so a doc-keyed split (t7) leaks eval pages
    * whose near-twins sit in train. Same synthesized URL scheme as t49
    * (sub{id%7}.site{id%13}.com), the real [[TextAnalysis.urlHost]] /
    * [[TextAnalysis.registrableDomain]] kernels, and t7's exact md5
    * threshold arithmetic applied to the domain string — every doc of a
    * domain lands in ONE split by construction (13 domains hash
    * wherever they hash; the oracle replays the identical thresholds). */
  val t54GroupedSplit: Q = (s, d) => {
    val url = concat(lit("https://sub"), pmod(col("doc_id"), lit(7)).cast("string"),
      lit(".site"), pmod(col("doc_id"), lit(13)).cast("string"),
      lit(".com/p"), col("doc_id").cast("string"))
    documents(s, d)
      .select(col("doc_id"),
        TextAnalysis.registrableDomain(TextAnalysis.urlHost(url)).as("domain"))
      .withColumn("split", Sampling.splitLabel(col("domain"), 0.80, 0.10))
  }

  /** d18: prefix-filtered EXACT Jaccard self-join ([[Dedup
    * .prefixFilterJaccardPairs]], the All-Pairs/PPJoin family) — the
    * exact complement to the MinHash-LSH candidates: every pair with
    * J ≥ 9/10 and nothing else, no probabilistic sliver. The oracle is
    * the BRUTE-FORCE all-pairs join over the same 200-doc window with
    * the identical multiplied-through integer verdict — so the gate
    * checks the prefix filter's COMPLETENESS claim (no pair the brute
    * force finds may be missing), not just its precision. */
  val d18PrefixFilterPairs: Q = (s, d) =>
    Dedup.prefixFilterJaccardPairs(
      documents(s, d).filter(col("doc_id") < 200), "doc_id", "text",
      tauNum = 9L, tauDen = 10L)

  /** d21: corpus snapshot diff ([[Dedup.corpusDiff]]) — dataset
    * versioning: v_old = docs 0..449 with every 7th text REWRITTEN,
    * v_new = docs 50..499; statuses added/removed/changed/same all
    * non-empty and hash-gated. */
  val d21CorpusDiff: Q = (s, d) => {
    val docs = documents(s, d)
    val vOld = docs.filter(col("doc_id") < 450)
      .withColumn("text",
        when(col("doc_id") % 7 === 0, concat(lit("OLD "), col("text")))
          .otherwise(col("text")))
    val vNew = docs.filter(col("doc_id") >= 50)
    Dedup.corpusDiff(vOld, vNew, "doc_id", "text")
  }

  /** d22: INCREMENTAL corpus processing on top of d21's diff — the
    * versioning identity that makes re-runs cheap at 100 TB:
    * funnel(v2) ≡ carried(v1) − removed + funnel(added ∪ changed), for
    * a funnel of per-doc stages (quality gate → classifier) followed by
    * a global reduction (exact dedup, min-id per content hash) that
    * reruns over the maintained per-doc survivor set — hashes only, the
    * texts of unchanged docs are never re-read. The identity is exact
    * because per-doc verdicts are pure functions of (id, text) and
    * `same` status certifies text equality by hash; the global stage
    * recomputes but its input is id+hash pairs, not the corpus. Both
    * gates fire: the query ASSERTS incremental ≡ full recompute in-
    * query (the s19 equality pattern) and RETURNS the incremental
    * result, which the DuckDB oracle — an independent full-funnel
    * replay of v2 — must hash-match. Snapshots are d21's construction,
    * so all four diff statuses participate. */
  val d22IncrementalFunnel: Q = (s, d) => {
    val docs = documents(s, d)
    val v1 = docs.filter(col("doc_id") < 450)
      .withColumn("text",
        when(col("doc_id") % 7 === 0, concat(lit("OLD "), col("text")))
          .otherwise(col("text")))
      .select("doc_id", "text")
    // v2 plants exact copies under new ids (every 11th doc) so the
    // global dedup stage faces real duplicate groups (n = 2, keep_id =
    // the original), and the copies arrive through the ADDED path
    val v2base = docs.filter(col("doc_id") >= 50).select("doc_id", "text")
    val v2 = v2base.unionByName(
      v2base.filter(col("doc_id") % 11 === 0)
        .select((col("doc_id") + 10000L).as("doc_id"), col("text")))
    import graft.operators.IncrementalCurate
    // incremental path: v1's cached verdicts carry for `same` ids; only
    // added ∪ changed texts are processed; removed ids drop with the diff
    val v1Done = IncrementalCurate.perDocVerdicts(v1, "doc_id", "text")
    // incrementalVerdicts returns PINNED (caller releases) — bind it so
    // the cache doesn't stay pinned for the rest of the suite run
    val verdicts = IncrementalCurate.incrementalVerdicts(
      v1, v2, v1Done, "doc_id", "text")
    val incr = IncrementalCurate.dedupGroups(verdicts, "doc_id").persist()
    incr.count()
    verdicts.unpersist(blocking = false)
    // the hard equality gate: full recompute over v2 must agree row-
    // for-row (symmetric difference empty)
    val full = IncrementalCurate.dedupGroups(
      IncrementalCurate.perDocVerdicts(v2, "doc_id", "text"), "doc_id")
    val mismatches = incr.unionByName(full)
      .groupBy("h", "keep_id", "n").agg(count(lit(1)).as("c"))
      .filter(col("c") =!= 2).count()
    require(mismatches == 0L,
      s"d22: incremental funnel diverged from the full recompute on " +
        s"$mismatches (h, keep_id, n) rows")
    incr
  }

  /** d23: INCREMENTAL near-dup candidates
    * ([[IncrementalCurate.incrementalNearDupPairs]]) — the d22 identity
    * extended to the LSH stage: v1's cached (id, band, bh) rows carry
    * for `same` ids, only added ∪ changed texts re-shingle/re-sign, and
    * pairs rebuild only in buckets a delta doc touches (carried v1
    * pairs cover the rest). Snapshots are d21/d22's construction (all
    * four diff statuses, planted exact copies arriving as ADDED — their
    * identical signatures collide in every band, so the incremental
    * path must produce real new pairs, not just carry old ones). d5's
    * md5-parity family (8 hashes / 2 bands of 4, 3-gram shingles) keeps
    * the full pipeline ANSI-SQL-reproducible. Gated twice: the query
    * ASSERTS incremental ≡ full recompute over v2 (the d22/s19 equality
    * pattern) and returns the incremental pairs, which the DuckDB
    * oracle — an independent full LSH replay of v2 — must hash-match. */
  val d23IncrementalNearDup: Q = (s, d) => {
    val docs = documents(s, d)
    val v1 = docs.filter(col("doc_id") < 450)
      .withColumn("text",
        when(col("doc_id") % 7 === 0, concat(lit("OLD "), col("text")))
          .otherwise(col("text")))
      .select("doc_id", "text")
    val v2base = docs.filter(col("doc_id") >= 50).select("doc_id", "text")
    val v2 = v2base.unionByName(
      v2base.filter(col("doc_id") % 11 === 0)
        .select((col("doc_id") + 10000L).as("doc_id"), col("text")))
    import graft.operators.IncrementalCurate
    // v1's cached state (band rows + pairs) — in production these are
    // the previous run's outputs; the gate pays both sides by design
    val v1Bands = Dedup.minhashBandRows(v1, "doc_id", "text",
      numHashes = 8, rowsPerBand = 4, shingleWidth = 3, md5Parity = true)
      .persist()
    v1Bands.count()
    val v1Pairs = Dedup.pairsFromBandRows(v1Bands)
    val (newBands, incr) = IncrementalCurate.incrementalNearDupPairs(
      v1, v2, v1Bands, v1Pairs, "doc_id", "text",
      numHashes = 8, rowsPerBand = 4, shingleWidth = 3, md5Parity = true)
    v1Bands.unpersist(blocking = false)
    // the hard equality gate: full recompute over v2 must agree pair
    // for pair (symmetric difference empty), under the SAME clean
    // pairing rule the incremental path uses
    val full = Dedup.pairsFromBandRows(
      Dedup.minhashBandRows(v2, "doc_id", "text",
        numHashes = 8, rowsPerBand = 4, shingleWidth = 3, md5Parity = true))
    val mismatches = incr.unionByName(full)
      .groupBy("d1", "d2").agg(count(lit(1)).as("c"))
      .filter(col("c") =!= 2).count()
    require(mismatches == 0L,
      s"d23: incremental near-dup diverged from the full recompute on " +
        s"$mismatches (d1, d2) pairs")
    // bind the result off the pinned frames, then release both
    val out = incr.localCheckpoint(true)
    incr.unpersist(blocking = false)
    newBands.unpersist(blocking = false)
    out
  }

  /** r20: STREAMING incremental curation — d22's versioning identity
    * under the streaming hard gate. The v1→v2 snapshot deltas (d22's
    * exact construction, so all of added/changed/removed participate:
    * ~50 removed, ~57 changed, ~91 added incl. the planted duplicate
    * copies) arrive as FOUR real micro-batches
    * ([[Inventory.drainStagedForeach]], frame i IS batch i), and
    * [[IncrementalCurate.applyDeltaBatch]] folds each into the
    * versioned parquet verdict cache seeded with v1's
    * [[IncrementalCurate.perDocVerdicts]] — so the carried verdicts
    * must survive three real batch boundaries, and each batch's
    * anti-join must drop exactly its removed/changed ids. Gated twice:
    * the query ASSERTS the final cache equals the batch full recompute
    * row-for-row (the d22/s19 equality pattern), and the DuckDB oracle
    * replays the full funnel over v2 independently. A verdict row lost
    * between batches, a double-applied delta, or a stale carried hash
    * all change the (h, keep_id, n) set. */
  val r20StreamIncremental: Q = (s, d) => {
    import graft.operators.IncrementalCurate
    val docs = documents(s, d)
    val v1 = docs.filter(col("doc_id") < 450)
      .withColumn("text",
        when(col("doc_id") % 7 === 0, concat(lit("OLD "), col("text")))
          .otherwise(col("text")))
      .select("doc_id", "text")
    val v2base = docs.filter(col("doc_id") >= 50).select("doc_id", "text")
    val v2 = v2base.unionByName(
      v2base.filter(col("doc_id") % 11 === 0)
        .select((col("doc_id") + 10000L).as("doc_id"), col("text")))
    val cacheDir = Inventory.scratchDir("r20_cache_")
    IncrementalCurate.perDocVerdicts(v1, "doc_id", "text")
      .write.mode("overwrite").parquet(s"$cacheDir/v0")
    // delta rows (doc_id, status, text): one hash-diff scan classifies
    // every id; `same` docs never ship; removed rows carry NULL text
    val deltas = Dedup.corpusDiff(v1, v2, "doc_id", "text")
      .filter(col("status") =!= "same")
      .join(v2, Seq("doc_id"), "left")
    val frames = (0 until 4).map(r =>
      deltas.filter(pmod(col("doc_id"), lit(4)) === r))
    Inventory.drainStagedForeach(s, frames, "r20_ic_",
      shufflePartitions = Some("8")) { (batch, id) =>
      IncrementalCurate.applyDeltaBatch(
        cacheDir.toString, batch, id, "doc_id", "text")
    }
    val streamed = IncrementalCurate.dedupGroups(
        Tables.open(s, s"$cacheDir/v${frames.length}"), "doc_id")
      // localCheckpoint (eager) truncates lineage off the temp cache
      // files so the dir can be deleted before the frame is consumed
      .localCheckpoint(true)
    val full = IncrementalCurate.dedupGroups(
      IncrementalCurate.perDocVerdicts(v2, "doc_id", "text"), "doc_id")
    val mismatches = streamed.unionByName(full)
      .groupBy("h", "keep_id", "n").agg(count(lit(1)).as("c"))
      .filter(col("c") =!= 2).count()
    require(mismatches == 0L,
      s"r20: streamed incremental verdicts diverged from the full " +
        s"recompute on $mismatches (h, keep_id, n) rows")
    try {
      java.nio.file.Files.walk(cacheDir)
        .sorted(java.util.Comparator.reverseOrder())
        .forEach(p => { java.nio.file.Files.deleteIfExists(p); () })
    } catch { case _: Throwable => () }
    streamed
  }

  /** r21: STREAMING incremental curation over the BUCKETED live cache
    * ([[IncrementalCurate.applyDeltaBatchBucketed]]) — r20's identity
    * with the 100 TB cache layout: one live parquet dataset
    * hash-partitioned by `pmod(xxhash64(id), 8)`, each micro-batch
    * rewriting ONLY the buckets its delta ids touch (dynamic partition
    * overwrite) with drop-all-then-re-add idempotence instead of
    * version numbers. Same four-micro-batch construction as r20, so
    * carried verdicts must survive three real batch boundaries ACROSS
    * bucket directories the batches partially rewrite. Gated twice:
    * the query ASSERTS the final live cache equals the batch full
    * recompute row-for-row, and the DuckDB oracle replays the full
    * funnel over v2 independently. */
  val r21StreamIncrementalBucketed: Q = (s, d) => {
    import graft.operators.IncrementalCurate
    val docs = documents(s, d)
    val v1 = docs.filter(col("doc_id") < 450)
      .withColumn("text",
        when(col("doc_id") % 7 === 0, concat(lit("OLD "), col("text")))
          .otherwise(col("text")))
      .select("doc_id", "text")
    val v2base = docs.filter(col("doc_id") >= 50).select("doc_id", "text")
    val v2 = v2base.unionByName(
      v2base.filter(col("doc_id") % 11 === 0)
        .select((col("doc_id") + 10000L).as("doc_id"), col("text")))
    val cacheDir = Inventory.scratchDir("r21_cache_")
    IncrementalCurate.seedBucketedCache(cacheDir.toString,
      IncrementalCurate.perDocVerdicts(v1, "doc_id", "text"),
      "doc_id", buckets = 8)
    val deltas = Dedup.corpusDiff(v1, v2, "doc_id", "text")
      .filter(col("status") =!= "same")
      .join(v2, Seq("doc_id"), "left")
    val frames = (0 until 4).map(r =>
      deltas.filter(pmod(col("doc_id"), lit(4)) === r))
    Inventory.drainStagedForeach(s, frames, "r21_ic_",
      shufflePartitions = Some("8")) { (batch, _) =>
      IncrementalCurate.applyDeltaBatchBucketed(
        cacheDir.toString, batch, "doc_id", "text", buckets = 8)
    }
    val streamed = IncrementalCurate.dedupGroups(
        Tables.open(s, s"$cacheDir/live").select("doc_id", "h"), "doc_id")
      .localCheckpoint(true)
    val full = IncrementalCurate.dedupGroups(
      IncrementalCurate.perDocVerdicts(v2, "doc_id", "text"), "doc_id")
    val mismatches = streamed.unionByName(full)
      .groupBy("h", "keep_id", "n").agg(count(lit(1)).as("c"))
      .filter(col("c") =!= 2).count()
    require(mismatches == 0L,
      s"r21: bucketed streamed verdicts diverged from the full " +
        s"recompute on $mismatches (h, keep_id, n) rows")
    try {
      java.nio.file.Files.walk(cacheDir)
        .sorted(java.util.Comparator.reverseOrder())
        .forEach(p => { java.nio.file.Files.deleteIfExists(p); () })
    } catch { case _: Throwable => () }
    streamed
  }

  /** t58: deterministic corpus shuffle ([[Sampling.deterministicShuffle]])
    * — the reproducible training-order permutation (epoch = seed); the
    * gate hashes the md5 shuffle keys plus the top-20 order under the
    * key, so the permutation itself faces DuckDB. */
  val t58DeterministicShuffle: Q = (s, d) =>
    Sampling.deterministicShuffle(documents(s, d), "doc_id", seed = "epoch3")
      .orderBy(col("shuffle_key").asc)
      .select(col("doc_id"), col("shuffle_key"))
      .limit(20)

  /** d20: EXACT weighted-cosine self-join ([[Dedup.weightedCosinePairs]],
    * the All-Pairs family on TF vectors) — every pair with cos ≥ 4/5
    * over the 200-doc window, squared integer verdict; the oracle is
    * the brute-force inverted-index join with the identical compare, so
    * completeness AND precision face the gate (503 pairs at sf0.01). */
  val d20WeightedCosine: Q = (s, d) =>
    Dedup.weightedCosinePairs(
      documents(s, d).filter(col("doc_id") < 200), "doc_id", "text",
      tauNum = 4L, tauDen = 5L)

  /** d19: cross-document repeated-SPAN removal ([[Dedup.repeatedSpans]],
    * the Lee et al. substring-dedup family) — every 4-gram occurring ≥ 2
    * times corpus-wide covers its tokens; covered tokens drop from the
    * rebuilt text. The gate hashes the REBUILT text too, so the
    * interval-union coverage logic (the windowed max), not just the
    * counts, faces DuckDB. String grams (hashGrams=false) for parity;
    * the xxhash64-keyed shuffle is the scale default. */
  val d19RepeatedSpans: Q = (s, d) =>
    Dedup.repeatedSpans(documents(s, d), "doc_id", "text",
      w = 4, minOccur = 2L, hashGrams = false)

  /** r7: the streaming exact-dedup arm under the HARD gate — the s19
    * pattern (run the stream over the batch corpus, declare equality
    * with the batch twin as the oracle), applied to the state-store
    * path: the documents table drains as a file stream
    * (`Trigger.AvailableNow`), [[graft.streaming.StreamingJobs
    * .streamingExactDedup]]'s keyed dropDuplicates passes the FIRST
    * arrival of each content hash, and the projection keeps only the
    * content hash — WHICH survivor arrival order picked is
    * nondeterministic, but the SET of distinct hashes is not. The
    * DuckDB oracle is the batch twin (`SELECT DISTINCT md5(text)`), so
    * a duplicate leaking through the state store — or a hash dropped by
    * it — is a row-count/hash mismatch, not a silent pass. Every doc is
    * PLANTED twice (explode to 2 copies) because the corpus texts are
    * naturally distinct — the state store must drop exactly half the
    * arrivals, not just pass rows through. */
  val r7StreamExactDedup: Q = (s, d) =>
    Inventory.drainStream(s, d, "documents.parquet", "r7_dedup_", "append") {
      stream =>
        graft.streaming.StreamingJobs.streamingExactDedup(
          stream.withColumn("__copy", explode(array(lit(0), lit(1)))), "text")
          .select(md5(col("text")).as("h"))
    }

  /** r11: STREAMING Misra-Gries heavy hitters under the HARD gate — the
    * last keyed-state family that was e2e-only ([[graft.streaming
    * .StreamingJobs.streamingHeavyHitters]]). The events table drains
    * as EIGHT micro-batches ([[Inventory.drainStreamSplit]]), so the
    * per-shard summaries must persist and keep accumulating across
    * batch boundaries; the gate runs the sketch in its EXACT regime
    * (capacity 256 ≥ all distinct user_ids at the gate scale, so no
    * trim ever fires and the final summary is the exact per-key count —
    * order- and batching-independent by construction, the only regime
    * whose final state a cross-engine oracle can replay; the
    * order-dependent trim rule is gated separately through r13's
    * majority invariant). The final snapshot is the per-shard
    * max-`seq` emission; the DuckDB oracle is the plain batch GROUP BY.
    * A count the state store dropped, double-applied on a batch
    * boundary, or attributed to the wrong key is a hash mismatch. */
  val r11StreamHeavyHitters: Q = (s, d) => {
    val drained = Inventory.drainStreamSplit(
      s, d, "events.parquet", "r11_hh_", "update", nFiles = 8) { ev =>
      graft.streaming.StreamingJobs.streamingHeavyHitters(
        ev, "user_id", capacity = 256, shards = 8).toDF()
    }
    val wLast = Window.partitionBy("shard")
    drained
      .withColumn("__maxSeq", max("seq").over(wLast))
      .filter(col("seq") === col("__maxSeq"))
      .select(col("key"), col("countLb").as("n"))
  }

  /** r12: STREAMING Count-Min sketch under the HARD gate ([[graft
    * .streaming.StreamingJobs.streamingCountMin]]) — the fixed-size
    * sketch-state arm next to r11's keyed state: the corpus token
    * stream drains as eight micro-batches into ONE 4×256 counter
    * vector (complete mode re-emits the whole-stream snapshot each
    * batch; vector adds commute, so the final snapshot must equal the
    * batch sketch of the entire corpus no matter how rows split into
    * batches). Gated CELL BY CELL: the sketch explodes to (r, c, v)
    * rows and the DuckDB oracle rebuilds every counter from the same
    * salted-md5 positions (the a20 replay) — one count applied twice
    * on a batch boundary, or a row of state lost between batches, is a
    * hash mismatch on the exact cell it corrupted. */
  /** r14: the bottom-k quantile SKETCH as streaming state under the
    * HARD gate — the last mergeable-sketch family to cross real batch
    * boundaries: events drain as 8 micro-batches, the per-group bottom-k
    * (min-of-md5 keys) accumulates in complete-mode keyed state, and
    * because the sketch is order-independent the final snapshot must
    * equal the batch a18 construction EXACTLY — same oracle SQL, so a
    * state row lost at any batch boundary (or a non-mergeable buffer)
    * breaks the hash. */
  val r14StreamQuantiles: Q = (s, d) =>
    Inventory.drainStreamSplit(
      s, d, "events.parquet", "r14_bq_", "complete", nFiles = 8) { ev =>
      Sketches.sampledQuantiles(ev, Seq("event_type"), "value",
        "event_id", k = 256, qs = Seq(0.5, 0.9, 0.99))
    }

  /** r15: the KMV distinct-count sketch as streaming state under the
    * HARD gate — same drain pattern as r14: the k-minimum-values
    * TreeSet aggregate is mergeable and order-independent, so the
    * complete-mode snapshot after 8 real micro-batches must equal the
    * batch sketch (n_held, the exact k-th hash, and the estimate)
    * bit-for-bit per language. */
  val r15StreamKmv: Q = (s, d) =>
    Inventory.drainStreamSplit(
      s, d, "documents.parquet", "r15_kmv_", "complete", nFiles = 8) { docs =>
      Sketches.kmvDistinct(
        docs.select(col("lang"), explode(LmScore.bigrams(col("text"))).as("bg")),
        Seq("lang"), "bg", k = 64)
    }

  val r12StreamCountMin: Q = (s, d) => {
    val dep = 4; val w = 256
    val sketch = Inventory.drainStreamSplit(
      s, d, "documents.parquet", "r12_cm_", "complete", nFiles = 8) { docs =>
      graft.streaming.StreamingJobs.streamingCountMin(
        docs.select(explode(split(lower(col("text")), " ")).as("tok"))
          .filter(col("tok") =!= ""),
        "tok", dep, w)
    }
    sketch
      .select(posexplode(col("cm")).as(Seq("i", "v")))
      .filter(col("v") > 0)
      .select((col("i") / w).cast("long").as("r"),
        pmod(col("i"), lit(w)).cast("long").as("c"), col("v"))
  }

  /** r13: the Misra-Gries TRIM rule under the HARD gate — capacity 1
    * degenerates MG to Boyer-Moore majority voting, the one trim regime
    * with an order-independent exact invariant: a key holding a STRICT
    * majority of the stream survives every eviction no matter how
    * arrivals interleave (each trim cancels one held unit against one
    * other arrival; majority > everything else combined). Two thirds of
    * events carry the planted key, the rest are per-event singletons —
    * thousands of real evictions across eight micro-batches — and the
    * final non-empty state must be exactly the majority key, which the
    * DuckDB oracle computes independently with a HAVING > n/2. An
    * off-by-one in the trim's decrement-and-drop (or state lost at a
    * batch boundary breaking the invariant) surfaces as the wrong — or
    * no — survivor. */
  val r13StreamMajority: Q = (s, d) => {
    val drained = Inventory.drainStreamSplit(
      s, d, "events.parquet", "r13_mj_", "update", nFiles = 8) { ev =>
      graft.streaming.StreamingJobs.streamingHeavyHitters(
        ev.select(
          when(pmod(col("event_id"), lit(3)) < 2, lit("M"))
            .otherwise(concat(lit("x"), col("event_id").cast("string")))
            .as("k")),
        "k", capacity = 1, shards = 1).toDF()
    }
    drained
      .withColumn("__maxSeq", max("seq").over(Window.partitionBy("shard")))
      .filter(col("seq") === col("__maxSeq"))
      .select(col("key"))
  }

  /** r17: STREAMING MinHash near-dup under the HARD gate — the last
    * streaming surface that was e2e/SCALE-only ([[graft.streaming
    * .StreamingJobs.streamingMinhashDedup]], the RECOMMENDED streaming
    * dedup). Determinism construction: each doc's text is rewritten to
    * five tokens unique to that doc (`a<id> … e<id>`), so distinct docs
    * share NO shingles and full-signature agreement between them would
    * need eight independent 64-bit hash-min collisions on disjoint sets
    * — the ONLY matches are the planted copies (`doc_id + 100000`, same
    * text, identical signature). With `minMatch = numHashes` every copy
    * is flagged against its original and nothing else, so the distinct
    * unordered pair set is arrival-order- and batching-INDEPENDENT —
    * exactly what a cross-engine oracle can state: one (id, id+100000)
    * row per doc in the window. The staging forces the match across the
    * STATE STORE, not just the within-batch fold: originals drain as
    * micro-batches 1–4, copies as batches 5–8
    * ([[Inventory.drainStagedFiles]]), so each flag requires the
    * admitted signature to have survived ≥1 real batch boundary. A
    * signature row lost between batches (missed flag), a corrupted
    * stored signature (spurious admit), or a double-applied bucket
    * entry all change the row set. Kernel fidelity (real-text MinHash
    * vs the md5-parity family) is gated separately by d4/d5. */
  val r17StreamNearDup: Q = (s, d) =>
    plantedNearDupDrain(s, d, "r17_nd_") { stream =>
      graft.streaming.StreamingJobs.streamingMinhashDedup(
        stream, "doc_id", "text", numHashes = 8, rowsPerBand = 4,
        shingleW = 3, minMatch = 8).toDF()
    }

  /** r19: the SimHash streaming near-dup arm under the same hard gate —
    * the low-memory variant next to r17's MinHash default. Identical
    * planted copies sit at Hamming distance 0 (every band agrees);
    * distinct docs' per-doc-unique token sets give independent
    * signatures ~32 bits apart, and a 16-bit band co-location (≈2⁻¹⁶
    * per band) is rejected by the full-signature Hamming ≤ 3 check —
    * so the planted pairs are again the only flags and the unordered
    * pair set is batching-independent. With r17 this closes the LAST
    * e2e-only streaming surface: every streaming operator in the
    * engine now has a DuckDB-gated arm. */
  val r19StreamSimhashNearDup: Q = (s, d) =>
    plantedNearDupDrain(s, d, "r19_sh_") { stream =>
      graft.streaming.StreamingJobs.streamingSimhashDedup(
        stream, "doc_id", "text", maxHamming = 3, bands = 4).toDF()
    }

  /** Shared r17/r19 machinery: per-doc-unique token rewrite (docs < 300;
    * the five tokens are 12-hex md5 prefixes keyed by (position, id) —
    * disjoint across docs AND structurally uncorrelated, which matters
    * for the SimHash arm: structured tokens like `a42`/`a45` leave
    * FNV-1a bit correlations that put two 5-token signatures within
    * Hamming 3), planted copies under `id + 100000`, originals staged
    * as micro-batches 1–4 and copies as 5–8 so every near-dup flag
    * crosses the state store, verdicts projected to the distinct
    * unordered pair. Expected output whatever the arm: one
    * (id, id+100000) row per windowed doc. */
  private def plantedNearDupDrain(
      s: SparkSession, d: String, prefix: String)(
      arm: DataFrame => DataFrame): DataFrame = {
    val ids = col("doc_id").cast("string")
    val base = documents(s, d).filter(col("doc_id") < 300)
      .select(col("doc_id"),
        concat_ws(" ", (1 to 5).map(i =>
          substring(md5(concat(lit(s"$i#"), ids)), 1, 12)): _*).as("text"))
    val copies = base.select((col("doc_id") + 100000L).as("doc_id"), col("text"))
    def shard(df: DataFrame, r: Int) =
      df.filter(pmod(col("doc_id"), lit(4)) === r)
    val frames = (0 until 4).map(shard(base, _)) ++
      (0 until 4).map(shard(copies, _))
    val verdicts = Inventory.drainStagedFiles(
      s, frames, prefix, "update", shufflePartitions = Some("8"))(arm)
    verdicts.filter(col("dupOf") >= 0)
      .select(least(col("docId"), col("dupOf")).as("d1"),
        greatest(col("docId"), col("dupOf")).as("d2"))
      .distinct()
  }

  /** t51: BPE merge-table APPLY ([[graft.operators.BpeTrain
    * .applyMerges]]) — tokenize with a frozen 2-entry table whose second
    * merge consumes the first's output (w1 w2 → w1▁w2; w1▁w2 w3 →
    * w1▁w2▁w3), proving the fold runs in table order. Inputs are
    * synthesized so merge sites never share a token (no overlap
    * ambiguity), which makes the oracle a pair of plain substring
    * replaces — exact string equality end to end. */
  val t51BpeApply: Q = (s, d) => {
    val e = col("doc_id")
    val txt = concat(
      lit("a"), pmod(e, lit(5)).cast("string"),
      lit(" w1 w2 w3 b"), pmod(e, lit(3)).cast("string"),
      lit(" w1 w2 x"), pmod(e, lit(7)).cast("string"))
    val src = documents(s, d).select(e, txt.as("t"))
    graft.operators.BpeTrain
      .applyMerges(src, "t", Seq(("w1", "w2"), ("w1▁w2", "w3")))
      .select(col("doc_id"),
        array_join(col("bpe_tokens"), " ").as("text_bpe"),
        col("n_tokens"))
  }

  /** t52: adjacent-pair PMI collocations ([[TextAnalysis.pmiPairs]]) —
    * the phrase/compound detector, ranked by the EXACT rational
    * `n_ab·N_tok²/(N_pair·n_a·n_b)` (no log: monotone in PMI, integer
    * num/den, one IEEE division). Top-20 at n_pair ≥ 5. */
  val t52PmiPairs: Q = (s, d) =>
    TextAnalysis.pmiPairs(documents(s, d), "text", minCount = 5L, k = 20)

  /** t53: per-source vocabulary statistics — tokens, distinct tokens
    * (vocabulary), and docs per source: the Heaps-law corpus profile
    * every mixture decision starts from (a source whose vocabulary
    * stopped growing is saturated; one with tiny vocab/token ratio is
    * template spam). Exact integers; one explode + one two-level agg. */
  val t53VocabStats: Q = (s, d) =>
    documents(s, d)
      .select(col("source"), col("doc_id"),
        explode(TextAnalysis.tokens(col("text"))).as("tok"))
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_tokens"),
        countDistinct("tok").as("n_vocab"),
        countDistinct("doc_id").as("n_docs"))

  /** t15: winnowing (rolling-hash) document fingerprints — the MOSS
    * partial-overlap detector ([[TextAnalysis.winnowFingerprints]]), k=3
    * token grams, window w=4, md5-parity hashes. One row per (doc,
    * fingerprint); ~2/(w+1) of the gram hashes survive. */
  val t15WinnowFingerprint: Q = (s, d) =>
    TextAnalysis.winnowFingerprints(documents(s, d), "doc_id", "text", k = 3, w = 4)

  /** d11: sub-document (passage-level) exact dedup — the CCNet line-dedup
    * shape at 10-token chunk granularity ([[Dedup.chunkDedup]]): repeated
    * chunks anywhere in the corpus are removed except their globally-first
    * occurrence, and documents are reassembled from the survivors.
    * Oracle-checked: DuckDB rebuilds the chunking with `generate_series` +
    * `list_slice`, replays the first-occurrence rule with a window
    * `row_number`, and re-assembles with an ordered `string_agg` — exact
    * string equality end to end. */
  val d11ChunkDedup: Q = (s, d) =>
    Dedup.chunkDedup(documents(s, d), "doc_id", "text", chunkTokens = 10)

  /** t35: content-defined chunk dedup ([[Dedup.cdcChunkDedup]]) — the
    * d11 first-occurrence rewrite on CDC boundaries (a token closes its
    * chunk when md5(token) starts with '0'), so repeated passages dedup
    * even when surrounding edits shift their offsets. Oracle replays the
    * boundary rule with a window prefix-sum, groups chunks with an
    * ordered string_agg, and applies the same row_number first-occurrence
    * rule — exact string equality end to end. */
  val t35CdcDedup: Q = (s, d) =>
    Dedup.cdcChunkDedup(documents(s, d), "doc_id", "text")

  /** a18: bounded-memory per-group quantiles from a bottom-k hash sample
    * ([[Sketches.sampledQuantiles]], the KMV idea pointed at quantiles):
    * deterministic uniform row sample keyed on md5(event_id), quantiles
    * read off the value-sorted sample at rank ceil(q·n). Mergeable,
    * order-independent, k·16 bytes per group however large the group —
    * and bitwise-mirrorable (the oracle takes the same k smallest
    * md5-ranked rows and indexes the same sorted list). */
  val a18SampledQuantiles: Q = (s, d) =>
    Sketches.sampledQuantiles(events(s, d), Seq("event_type"), "value",
      "event_id", k = 256, qs = Seq(0.5, 0.9, 0.99))

  /** t36: adjacent-pair statistics — the distributed half of BPE merge
    * learning ([[graft.operators.BpeTrain]], Sennrich et al. 2016): one
    * scan-side zip of each token array against its own tail, one
    * map-side-combined count keyed on the pair, deterministic top-20 by
    * (count desc, pair). The merge LOOP (argmax → scan-side rewrite,
    * k passes) is library surface with its own unit test. */
  val t36BpePairs: Q = (s, d) =>
    graft.operators.BpeTrain.pairCounts(documents(s, d), "text")
      .orderBy(col("n").desc, col("left"), col("right"))
      .limit(20)

  /** t37: edit-distance-1 fuzzy self-join ([[graft.operators.FuzzyJoin]])
    * — deletion-neighborhood signatures turn the O(n²) levenshtein cross
    * join into one signature equi-join + exact verify on candidates.
    * Vocab synthesized from events closed forms ('w' + id%500 — dense in
    * insertion AND substitution ED-1 pairs); the oracle is the brute
    * quadratic the rewrite replaces, so completeness itself is what the
    * hash check proves. */
  val t37FuzzyPairs: Q = (s, d) =>
    graft.operators.FuzzyJoin.editDistance1Pairs(
      events(s, d)
        .select(concat(lit("w"), (col("event_id") % 500).cast("string")).as("w"))
        .distinct(),
      "w")

  /** t38: Flesch reading-ease scoring ([[TextAnalysis.readability]]) —
    * the classic curation readability gate. Whole-text vowel-run
    * syllable estimate (run count = per-word sum), terminal-punctuation
    * sentence count clamped to ≥1, and a fixed-order IEEE double chain
    * over the exact integer counts, so the SCORE column — not just the
    * counts — hash-matches the oracle. Pure scan-side. */
  val t38Readability: Q = (s, d) =>
    TextAnalysis.readability(documents(s, d), "doc_id", "text")

  /** t42: URL canonicalization ([[UrlOps.canonicalUrl]]/[[UrlOps.urlHost]])
    * — the crawl-curation normalization before URL-level dedup and
    * per-host caps: scheme/host lowercased, default port stripped,
    * fragment dropped, `utm_*`/`gclid`/`fbclid` tracking params removed,
    * duplicate slashes collapsed, trailing slash stripped. Documents
    * carry no URL column, so the query synthesizes a deterministic messy
    * URL per row (mixed-case scheme+host, default ports, `//` runs,
    * trackers interleaved with real params, a fragment — keyed off
    * doc_id so every branch of the normalizer is exercised), the t32
    * augmentation pattern. Pure codegen'd regex built-ins; the oracle
    * reruns the same char-class regexes under RE2. */
  val t42UrlNormalize: Q = (s, d) => {
    val id = col("doc_id")
    val url = concat(
      when(id % 2 === 0, lit("HTTP://WWW.")).otherwise(lit("https://cdn.")),
      col("source"), lit(".Example.COM"),
      when(id % 2 === 0, lit(":80")).otherwise(lit(":443")),
      lit("/Docs//"), col("lang"), lit("/p"), id.cast("string"),
      when(id % 3 === 0, lit("/")).otherwise(lit("")),
      lit("?utm_source=feed&id="), id.cast("string"), lit("&utm_campaign=c1"),
      when(id % 5 === 0, lit("&gclid=XYZ")).otherwise(lit("")),
      lit("#Section-2"))
    documents(s, d)
      .select(id, url.as("url"))
      .select(col("doc_id"), col("url"),
        UrlOps.canonicalUrl(col("url")).as("canonical"),
        UrlOps.urlHost(col("url")).as("host"))
  }

  /** t44: deterministic weighted sampling without replacement
    * ([[Sampling.weightedSample]]) — quality-weighted corpus selection
    * (longer docs more likely, capped at 16×) via the min-of-w-hashes
    * priority key: pairwise-proportional selection with EXACT 60-bit
    * integer comparisons (the E-S exponential-keys shape without the
    * cross-engine `ln` hazard). Scan-side key, TakeOrdered top-k; the
    * emitted wkey lets the oracle replay the whole draw. */
  /** t45: per-language WINSORIZATION of doc length
    * ([[graft.operators.Percentiles.winsorize]]) — clamp n_chars into the
    * language's discrete [p10, p90] band, then roll up raw vs clamped
    * sums and clamp counts. The robust-scaling step that keeps a
    * heavy-tailed length/score column from owning downstream sampling
    * weights; all-integer arithmetic end to end (discrete percentiles,
    * long sums), so the gate is exact. One histogram agg + one broadcast
    * join — the corpus never shuffles. */
  val t45Winsorize: Q = (s, d) =>
    graft.operators.Percentiles.winsorize(
      documents(s, d).select(col("lang"), col("n_chars")),
      "lang", "n_chars", 10, 90)
      .groupBy("lang")
      .agg(count(lit(1)).as("n"),
        sum(col("n_chars")).as("sum_raw"),
        sum(col("n_chars_w")).as("sum_w"),
        sum(when(col("clamped") === -1, 1L).otherwise(0L)).as("n_low"),
        sum(when(col("clamped") === 1, 1L).otherwise(0L)).as("n_high"))

  /** t46: corpus distribution-shift detector
    * ([[graft.operators.Importance.chiSquaredShift]]) — per-bucket
    * symmetric chi-squared contributions between the English and
    * non-English sub-corpora over the DSIR hashed-unigram space:
    * cross-multiplied exact integers end to end, one IEEE division per
    * bucket, output bounded at 64 rows whatever the corpus size. The
    * curation tripwire for "did this shard drift?" — and the per-bucket
    * decomposition says WHERE. */
  val t46DistShift: Q = (s, d) => {
    val docs = documents(s, d)
    graft.operators.Importance.chiSquaredShift(
      docs.filter(col("lang") === "en"),
      docs.filter(col("lang") =!= "en"),
      "text", buckets = 64)
  }

  /** a28: exact two-sample Kolmogorov–Smirnov
    * ([[graft.operators.Importance.ksTwoSample]]) — the numeric-column
    * drift companion to t46's chi²: token-count distribution of src0 vs
    * src1. D is hashed as the exact integer d_num (= D·n_a·n_b); the
    * histogram-then-window shape keeps the global window off the fact
    * (the a25/Percentiles contract). */
  val a28KsTwoSample: Q = (s, d) =>
    graft.operators.Importance.ksTwoSample(
      documents(s, d)
        .withColumn("n_toks", size(split(lower(col("text")), " ")).cast("long")),
      "n_toks", "source", "src0", "src1")

  /** a29: exact Mann–Whitney U ([[graft.operators.Importance
    * .mannWhitney]]) — the ordinal drift companion to a28's KS over the
    * same src0/src1 token-count split; u2_a (= 2·U_a, midrank ties
    * exact) is the hashed integer. */
  val a29MannWhitney: Q = (s, d) =>
    graft.operators.Importance.mannWhitney(
      documents(s, d)
        .withColumn("n_toks", size(split(lower(col("text")), " ")).cast("long")),
      "n_toks", "source", "src0", "src1")

  /** s20: reciprocal-rank fusion ([[graft.operators.Similarity
    * .rrfFuse]]) — hybrid retrieval's combiner, fusing two top-10
    * cosine rankings (query vectors 0 and 1 over the shared candidate
    * corpus) into a top-5; each contribution is one IEEE division of
    * exact integers, summed left-to-right on both engines. */
  val s20RrfFusion: Q = (s, d) => {
    val em = embeddings(s, d)
    def ranking(qid: Long): org.apache.spark.sql.DataFrame = {
      val q = em.filter(col("vec_id") === qid)
        .select("embedding").head().getSeq[Float](0)
      val top = Similarity
        .bruteForceTopK(em.filter(!col("vec_id").isin(0L, 1L)),
          "vec_id", "embedding", q, 10)
        .orderBy(col("cosine").desc, col("vec_id").asc)
        .select("vec_id").collect()
      import s.implicits._
      top.toSeq.zipWithIndex
        .map { case (r, i) => ((i + 1).toLong, r.getLong(0)) }
        .toDF("rnk", "vec_id")
    }
    Similarity.rrfFuse(Seq(ranking(0L), ranking(1L)), "vec_id",
      k0 = 60, topK = 5)
  }

  /** a30: exact Kendall τ-b ([[graft.operators.Importance.kendallTauB]])
    * — ordinal association of token count vs byte length; concordant/
    * discordant counts hashed as exact integers, the two sqrts are
    * correctly-rounded IEEE (engine-identical, unlike log/exp). */
  val a30KendallTau: Q = (s, d) =>
    graft.operators.Importance.kendallTauB(
      docLenFrame(s, d), "x", "y")

  /** a31: exact Spearman ρ ([[graft.operators.Importance.spearmanRho]])
    * — Pearson over doubled midranks, every moment sum an exact
    * integer; num/den emitted as correctly-rounded doubles of exact
    * integers (the chi² convention). */
  val a31SpearmanRho: Q = (s, d) =>
    graft.operators.Importance.spearmanRho(
      docLenFrame(s, d), "x", "y")

  private def docLenFrame(s: SparkSession, d: String) =
    documents(s, d).select(
      size(split(lower(col("text")), " ")).cast("long").as("x"),
      length(col("text")).cast("long").as("y"))

  /** t57: substring blocklist via the Aho–Corasick kernel
    * ([[TextAnalysis.substringBlocklistHits]]) — total occurrences of
    * four patterns (one single-char, one overlapping a longer one, one
    * spanning a token boundary) per doc in ONE text pass; the oracle
    * recounts by scanning every start position per pattern, so overlap
    * semantics face the gate exactly. */
  val t57SubstringBlocklist: Q = (s, d) =>
    TextAnalysis.substringBlocklistHits(documents(s, d), "doc_id", "text",
      Seq("ata", "a", "spark", "w sc"), maxHits = 28L)

  /** s21: distributed EXACT-integer Lloyd k-means ([[Similarity
    * .kmeansLloydExact]]) — 2 full-corpus iterations from the 4
    * smallest-id seeds; the hashed artifact is the (list_id, dim,
    * centroid_component, cluster_size) table, all integers, so the
    * whole 2-iteration trajectory (argmin ties, floor-divided means,
    * empty-cluster holds) faces the oracle's unrolled-CTE replay. */
  val s21Kmeans: Q = (s, d) => {
    val em = embeddings(s, d)
    val (cents, assigned) = Similarity.kmeansLloydExact(
      em, "vec_id", "embedding", k = 4, iters = 2)
    val sizes = assigned.groupBy("list_id").agg(count(lit(1)).as("n"))
    import s.implicits._
    val cdf = cents.zipWithIndex.flatMap { case (c, i) =>
      c.zipWithIndex.map { case (v, d0) => (i.toLong, (d0 + 1).toLong, v) }
    }.toSeq.toDF("list_id", "dim", "c")
    cdf.join(sizes, Seq("list_id"), "left")
      .select(col("list_id"), col("dim"), col("c"),
        coalesce(col("n"), lit(0L)).as("n"))
  }

  /** s23: DBSCAN density clustering ([[Similarity.dbscanLabels]]) —
    * cosine ε = 0.25 over the md5-parity LSH neighborhood graph,
    * minPts = 3: 26 cores / 34 borders / 440 noise across 16 clusters
    * at sf0.01, the oracle replaying core degrees, the recursive
    * core-core reachability, and the min-component border rule. */
  val s23Dbscan: Q = (s, d) =>
    Similarity.dbscanLabels(embeddings(s, d), "vec_id", "embedding",
      tau = 0.25, minPts = 3, planes = 8, seed = 42L, bands = 2,
      md5Family = true)

  /** s24: SemDeDup semantic survivors ([[Similarity.semanticSurvivors]])
    * — the headline semantic-dedup composition: s23's DBSCAN clusters
    * (same parameters, so role/cluster re-face their gate) + the d16
    * argmax-survivor rule with `label` as the quality key. The oracle
    * chains the s23 recursive replay with the survivor window, so the
    * kept/dropped verdict per doc — not just the clustering — is
    * hash-checked. */
  val s24SemanticSurvivors: Q = (s, d) =>
    Similarity.semanticSurvivors(embeddings(s, d), "vec_id", "embedding",
      "label", tau = 0.25, minPts = 3, planes = 8, seed = 42L, bands = 2,
      md5Family = true)

  /** s22: approximate kNN GRAPH ([[Similarity.knnGraph]]) — every
    * vector's top-5 neighbors from the md5-parity banded hyperplane
    * buckets (s7's signature family), symmetrized and ranked per source;
    * rank-only output (the s1 convention). The oracle rebuilds the
    * identical signatures, bucket pairs, and per-source ranking. */
  val s22KnnGraph: Q = (s, d) =>
    Similarity.knnGraph(embeddings(s, d), "vec_id", "embedding",
      k = 5, planes = 8, seed = 42L, bands = 2, md5Family = true)

  /** s25: graph-ANN SERVING ([[Similarity.graphSearchSeeded]]) — greedy
    * beam descent over s22's exact kNN-graph construction (same
    * parameters, so the traversal runs on an already-gated substrate),
    * with the entries LSH-SEEDED from the query's own band buckets
    * (same planes/seed/bands family that built the graph — the r15
    * navigability fix: a fixed entry set can't descend a near-forest
    * graph, the query's bucket-mates can). Beam 8, THREE hops, top-5,
    * corpus excluding the query row (the s1 convention — vec 0 can
    * never enter the beam; its graph edges exist but score-join away).
    * The oracle rebuilds the graph (s22's CTEs), derives the SAME
    * seeded entry set from the signature CTE (q side = vec 0's rows),
    * and replays the fixed-hop descent as unrolled b0→c1→b1→c2→b2→c3→b3
    * CTEs — seed membership and beam membership after every hop, not
    * just the final ranking, must agree. Rank-only output. */
  val s25GraphSearch: Q = (s, d) => {
    val em = embeddings(s, d)
    val query = em.filter(col("vec_id") === 0)
      .select("embedding").head().getSeq[Float](0)
    val graph = Similarity.knnGraph(em, "vec_id", "embedding",
      k = 5, planes = 8, seed = 42L, bands = 2, md5Family = true)
    val out = Similarity.graphSearchSeeded(
      em.filter(col("vec_id") =!= 0), graph, "vec_id", "embedding",
      query, k = 5, beam = 8, hops = 3,
      planes = 8, seed = 42L, bands = 2, md5Family = true)
    // graph arrives pinned (caller-owned); the search has fully consumed
    // it (out is a driver-built frame), so release before returning
    graph.unpersist(blocking = false)
    out
  }

  /** s26: BATCHED graph-ANN serving
    * ([[Similarity.graphSearchBatchSeeded]]) — four queries (vec 0–3)
    * descend s22's graph TOGETHER with per-query LSH-SEEDED entries:
    * the whole batch's seed probe is ONE (band, sig) equi-join of the
    * query signatures against the corpus signature index, the beam is a
    * (query, id) frame, each hop one graph join + one score join + a
    * per-query window, so the batch pays three hop jobs total (the s5
    * batched convention vs s25's per-query driver loop). Beam 8, three
    * hops, top-5 per query; self-matches excluded per query (a query's
    * own bucket rows enter the seed join but score-join away). The
    * oracle derives the same per-query entries from the signature CTE
    * and replays the descent as unrolled hop CTEs PARTITIONED BY
    * query. */
  val s26GraphSearchBatch: Q = (s, d) => {
    val em = embeddings(s, d)
    val graph = Similarity.knnGraph(em, "vec_id", "embedding",
      k = 5, planes = 8, seed = 42L, bands = 2, md5Family = true)
    val out = Similarity.graphSearchBatchSeeded(
      em, graph, "vec_id", "embedding",
      em.filter(col("vec_id") < 4)
        .select(col("vec_id").as("q_id"), col("embedding")),
      "q_id", "embedding", k = 5, beam = 8, hops = 3,
      planes = 8, seed = 42L, bands = 2, md5Family = true)
    graph.unpersist(blocking = false)
    out
  }

  /** t56: Cohen's kappa ([[graft.operators.Importance.cohenKappa]]) —
    * chance-corrected agreement between two deterministic "raters" of
    * the same docs (token-count long/short vs byte-length long/short):
    * the LLM-judge-vs-heuristic audit shape. Exact integer rational,
    * one IEEE division. */
  val t56CohenKappa: Q = (s, d) =>
    graft.operators.Importance.cohenKappa(
      documents(s, d)
        .withColumn("rater_a",
          when(size(split(lower(col("text")), " ")) >= 60, lit("long"))
            .otherwise(lit("short")))
        .withColumn("rater_b",
          when(length(col("text")) >= 330, lit("long")).otherwise(lit("short"))),
      "rater_a", "rater_b")

  val t44WeightedSample: Q = (s, d) => {
    val docs = documents(s, d).withColumn("weight",
      greatest(lit(1L), least(lit(16L), floor(col("n_chars") / 50).cast("long"))))
    Sampling.weightedSample(docs, "doc_id", "weight", k = 50)
      .select(col("doc_id"), col("weight"), col("wkey"))
  }

  /** t43: HTML boilerplate strip ([[TextAnalysis.stripHtml]]) — the
    * web-extraction pass before any text statistic. Documents carry no
    * markup, so the query wraps each text in a deterministic HTML
    * envelope exercising every branch (style + script blocks with tags
    * INSIDE string literals, attributes, all six entities, an
    * entity-in-entity `&amp;` ordering case, newlines) and strips it
    * back; the oracle reruns the same regex/replace chain under RE2.
    * Scan-side codegen'd built-ins end to end. */
  val t43HtmlStrip: Q = (s, d) => {
    val html = concat(
      lit("<html><head><title>Doc "), col("doc_id").cast("string"),
      lit("</title><style type=\"text/css\">p{margin:0}</style></head><body>\n<h1 class=\"hd\">"),
      col("source"), lit(" &amp; friends</h1>\n<p id='p1'>"),
      col("text"),
      lit("</p><p>1 &lt; 2 &gt; 0&nbsp;&quot;q&#39;s&quot;</p>\n<script>var x = \"<p>\";</script></body></html>"))
    documents(s, d)
      .select(col("doc_id"), html.as("html"))
      .select(col("doc_id"), TextAnalysis.stripHtml(col("html")).as("stripped"))
      .withColumn("n_stripped", length(col("stripped")).cast("long"))
  }

  /** d15: host-capped corpus — [[UrlOps.urlHost]] composed with
    * [[Sampling.perKeyCap]], the per-site frequency cap every
    * crawl-derived corpus applies after URL canonicalization (an
    * over-crawled host otherwise dominates the mixture). Same messy-URL
    * synthesis as t42; the cap's deterministic md5 ranking replays
    * relationally. */
  val d15HostCap: Q = (s, d) => {
    val id = col("doc_id")
    val url = concat(
      when(id % 2 === 0, lit("HTTP://WWW.")).otherwise(lit("https://cdn.")),
      col("source"), lit(".Example.COM"),
      when(id % 2 === 0, lit(":80")).otherwise(lit(":443")),
      lit("/p"), id.cast("string"))
    Sampling.perKeyCap(
      documents(s, d).select(id, UrlOps.urlHost(url).as("host")),
      "doc_id", "host", cap = 5)
      .select(col("doc_id"), col("host"), col("rk"))
  }

  /** t41: character-diversity quality gate ([[graft.functions.CharStats]]
    * — one codegen'd codepoint walk per row, NO per-character explode):
    * top-char fraction (ASCII-art / separator-page detector) and the
    * Simpson repeat probability Σc(c−1)/n(n−1) — the entropy-class
    * repetition signal with all-integer numerators and exactly one IEEE
    * division per output, so the report is bit-reproducible against the
    * oracle's per-char GROUP BY mirror. At 100 TB the kernel is a
    * projection; the mirror's explode shape (one row per CHARACTER)
    * is what this expression exists to avoid. */
  val t41CharDiversity: Q = (s, d) => {
    val cs = col("cs")
    val n = element_at(cs, 1)
    documents(s, d)
      .filter(length(col("text")) > 0)
      .select(col("doc_id"), char_stats(col("text")).as("cs"))
      .select(
        col("doc_id"),
        n.as("n_cp"),
        element_at(cs, 2).as("n_distinct"),
        element_at(cs, 3).as("top_cnt"),
        (element_at(cs, 3).cast("double") / n.cast("double")).as("top_frac"),
        when(n > 1,
          element_at(cs, 4).cast("double") / (n * (n - lit(1))).cast("double"))
          .as("simpson"))
  }

  /** t39: asymmetric CONTAINMENT pairs — quote/subset detection, the
    * directional cousin of d8's Jaccard verify: c(A→B) = |A∩B| / |A|
    * catches a short doc quoted inside a long one that symmetric Jaccard
    * dilutes below threshold. Same bounded 40-doc verify slice as d8
    * (at corpus scale this runs on LSH candidates, not all pairs);
    * integer set sizes, two single-division doubles. */
  val t39ContainmentPairs: Q = (s, d) => {
    val sub = documents(s, d)
      .filter(col("doc_id") < 40)
      .select(col("doc_id"), Dedup.tokenSet(col("text")).as("toks"))
    val a = sub.select(col("doc_id").as("d1"), col("toks").as("t1"))
    val b = sub.select(col("doc_id").as("d2"), col("toks").as("t2"))
    a.join(b, col("d1") < col("d2"))
      .select(col("d1"), col("d2"),
        size(array_intersect(col("t1"), col("t2"))).cast("long").as("common"),
        size(col("t1")).cast("long").as("n1"),
        size(col("t2")).cast("long").as("n2"))
      .withColumn("c_1in2", col("common").cast("double") / col("n1").cast("double"))
      .withColumn("c_2in1", col("common").cast("double") / col("n2").cast("double"))
      .filter(greatest(col("c_1in2"), col("c_2in1")) >= 0.6)
      .select("d1", "d2", "common", "n1", "n2", "c_1in2", "c_2in1")
  }

  /** t21: hashed-linear quality classifier (fastText shape,
    * [[Classifier.scored]]) — per-token md5-derived weights, mean-pooled
    * into a linear score, thresholded. Exact integer hash sum + one IEEE
    * division, so the score column hash-matches the DuckDB oracle. */
  val t21ClassifierScore: Q = (s, d) =>
    Classifier.scored(documents(s, d), "doc_id", "text", seed = "w", threshold = 0.0)

  /** t22: TF-IDF top-3 terms per document ([[TextAnalysis.tfidfTopTerms]])
    * — exact integer tf/df, reciprocal rarity score (one IEEE division),
    * term-ascending tie-break, so every column including the double score
    * hash-matches the DuckDB oracle. */
  val t22TfidfTopTerms: Q = (s, d) =>
    TextAnalysis.tfidfTopTerms(documents(s, d), "doc_id", "text", k = 3)

  /** t23: per-language heavy-hitter tokens via the Misra-Gries summary
    * ([[Sketches.heavyHitters]]) — the bounded-memory frequent-items
    * sketch, capacity 256 ≫ the 31-token testdata vocabulary, so the
    * lower-bound counts are exact and the whole report (token, count,
    * rank) hash-matches the exact-GROUP-BY oracle; at 100 TB the same
    * plan ships ≤ capacity pairs per partition instead of a full key
    * shuffle. */
  val t23HeavyHitters: Q = (s, d) =>
    Sketches.heavyHitters(
      documents(s, d)
        .select(col("lang"), explode(TextAnalysis.tokens(col("text"))).as("token")),
      Seq("lang"), "token", capacity = 256, k = 10)

  /** t24: partial-overlap pairs via winnowing fingerprints
    * ([[TextAnalysis.winnowOverlapPairs]]) — the MOSS detector end to
    * end: docs sharing ≥ 2 surviving fingerprints contain ≥ 6-token
    * copied runs. `maxDf = 20` drops boilerplate fingerprints before the
    * self-join (they carry no overlap signal and cost O(df²) pairs). */
  val t24OverlapPairs: Q = (s, d) =>
    TextAnalysis.winnowOverlapPairs(
      documents(s, d), "doc_id", "text", k = 3, w = 4, minShared = 2L, maxDf = 20L)

  // --- Skew toolkit -----------------------------------------------------

  /** t14: the skew toolkit on the declared surface — salted hot-key join
    * ([[Skew.saltedJoin]]) to restrict the fact table to its hottest keys,
    * then a two-phase salted aggregation ([[Skew.twoPhaseAgg]]) over the
    * joined rows. Oracle-checkable because both utilities are
    * salt-INVARIANT by construction: the salted join equals a plain inner
    * join on the key, and count/sum/max partials recombine exactly (sums
    * ride DECIMAL(18,2), the engine's exact-sum policy), so the DuckDB
    * side is the plain join + one-phase agg the salted plan must equal. */
  val t14SkewAgg: Q = (s, d) => {
    val ev = events(s, d)
      .withColumn("value_d", col("value").cast(DecimalType(18, 2)))
    // hot-key dim: top-3 event types by frequency (ties → lexicographic),
    // carrying a functionally-dependent attribute through the pipeline
    val hot = events(s, d)
      .groupBy("event_type")
      .agg(count(lit(1)).as("type_n"), min("user_id").as("first_user"))
      .withColumn("rk", row_number().over(
        Window.orderBy(col("type_n").desc, col("event_type"))))
      .filter(col("rk") <= 3)
      .select("event_type", "first_user")
    val joined = Skew.saltedJoin(ev, hot, "event_type", factor = 8)
    Skew.twoPhaseAgg(joined, Seq("event_type", "first_user"), "value_d", 8,
        Seq(Skew.TwoPhase.countOf("n_events"),
          Skew.TwoPhase.sumOf("total_value"),
          Skew.TwoPhase.maxOf("max_value")))
      .select(
        col("event_type"), col("first_user"), col("n_events"),
        col("total_value").cast("double").as("total_value"),
        col("max_value").cast("double").as("max_value"))
  }

  val queries: Map[String, Q] = Map(
    "t1_token_count" -> t1TokenCount,
    "t2_quality_stats" -> t2QualityStats,
    "t3_lang_stats" -> t3LangStats,
    "t4_lang_id" -> t4LangId,
    "t5_fingerprint" -> t5Fingerprint,
    "d2_exact_dedup" -> d2ExactDedup,
    "d3_token_overlap" -> d3TokenOverlap,
    "d4_minhash_band" -> d4MinhashBand,
    "d5_minhash_lsh" -> d5MinhashLsh,
    "d8_jaccard_verify" -> d8JaccardVerify,
    "d9_near_dup_groups" -> d9NearDupGroups,
    "d16_best_of_group" -> d16BestOfGroup,
    "d10_dedup_yield" -> d10DedupYield,
    "t6_quality_filter" -> t6QualityFilter,
    "t25_curate_funnel" -> t25CurateFunnel,
    "t55_curate_funnel_full" -> t55CurateFunnelFull,
    "d12_exact_dedup_against" -> d12ExactDedupAgainst,
    "d14_bloom_dedup_against" -> d14BloomDedupAgainst,
    "d13_neardup_against" -> d13NearDupAgainst,
    "d6_simhash" -> d6Simhash,
    "d7_embedding_near_dup" -> d7EmbeddingNearDup,
    "s7_semantic_dedup" -> s7SemanticDedup,
    "s1_cosine_topk" -> s1CosineTopK,
    "s2_lsh_topk" -> s2LshTopK,
    "s3_label_buckets" -> s3LabelBuckets,
    "s4_ivf_topk" -> s4IvfTopK,
    "s5_topk_join" -> s5TopKJoin,
    "s15_hard_negatives" -> s15HardNegatives,
    "s16_matryoshka_topk" -> s16MatryoshkaTopK,
    "s17_filtered_topk" -> s17FilteredTopK,
    "s18_knn_predict" -> s18KnnPredict,
    "s19_append_equals_rebuild" -> s19AppendEqualsRebuild,
    "s6_sq8_topk" -> s6Sq8TopK,
    "s8_pq_topk" -> s8PqTopK,
    "s9_label_centroids" -> s9LabelCentroids,
    "s11_cluster_sizes" -> s11ClusterSizes,
    "s12_zipwith_dot" -> s12ZipwithDot,
    "s13_pq_rotated_topk" -> s13PqRotatedTopK,
    "s14_mmr_diverse" -> s14MmrDiverse,
    "t27_pack_windows" -> t27PackWindows,
    "t28_passage_chunks" -> t28PassageChunks,
    "t30_nfc_normalize" -> t30NfcNormalize,
    "t31_bigram_familiarity" -> t31BigramFamiliarity,
    "a17_kmv_overlap" -> a17KmvOverlap,
    "t32_bpeish_tokens" -> t32BpeishTokens,
    "t29_semantic_decontam" -> t29SemanticDecontam,
    "s10_label_noise" -> s10LabelNoise,
    "t7_hash_split" -> t7HashSplit,
    "t8_deterministic_sample" -> t8DeterministicSample,
    "t9_repetition" -> t9Repetition,
    "t12_stratified_sample" -> t12StratifiedSample,
    "t13_token_budget" -> t13TokenBudget,
    "t10_top_ngram" -> t10TopNgram,
    "t11_decontam" -> t11Decontam,
    "t18_lm_novelty" -> t18LmNovelty,
    "t33_dsir_weights" -> t33DsirWeights,
    "t34_selfchunk_dedup" -> t34SelfChunkDedup,
    "a9_kmv_distinct" -> a9KmvDistinct,
    "a19_hll_distinct" -> a19HllDistinct,
    "a20_count_min" -> a20CountMin,
    "a22_hll_union" -> a22HllUnion,
    "t19_pii_redact" -> t19PiiRedact,
    "t20_bloom_membership" -> t20BloomMembership,
    "m1_binary_meta" -> m1BinaryMeta,
    "m2_image_meta" -> m2ImageMeta,
    "m3_frame_windows" -> m3FrameWindows,
    "m4_audio_meta" -> m4AudioMeta,
    "m5_video_meta" -> m5VideoMeta,
    "m6_image_decode" -> m6ImageDecode,
    "m7_audio_decode" -> m7AudioDecode,
    "m8_image_ahash" -> m8ImageAhash,
    "m12_image_neardup" -> m12ImageNearDup,
    "m9_image_resize" -> m9ImageResize,
    "m10_jpeg_decode" -> m10JpegDecode,
    "m11_gif_frames" -> m11GifFrames,
    "t14_skew_agg" -> t14SkewAgg,
    "t15_winnow_fingerprint" -> t15WinnowFingerprint,
    "t16_source_cap" -> t16SourceCap,
    "t17_mixture_upsample" -> t17MixtureUpsample,
    "t40_alpha_mixture" -> t40AlphaMixture,
    "t26_length_terciles" -> t26LengthTerciles,
    "t59_curriculum" -> t59Curriculum,
    "d11_chunk_dedup" -> d11ChunkDedup,
    "t35_cdc_dedup" -> t35CdcDedup,
    "t36_bpe_pairs" -> t36BpePairs,
    "t37_fuzzy_pairs" -> t37FuzzyPairs,
    "t38_readability" -> t38Readability,
    "t39_containment_pairs" -> t39ContainmentPairs,
    "t41_char_diversity" -> t41CharDiversity,
    "t47_bm25" -> t47Bm25,
    "t48_blocklist" -> t48Blocklist,
    "t49_domain_stats" -> t49DomainStats,
    "t50_run_dedup" -> t50RunDedup,
    "d17_sorted_neighborhood" -> d17SortedNeighborhood,
    "r7_stream_exact_dedup" -> r7StreamExactDedup,
    "r11_stream_heavy_hitters" -> r11StreamHeavyHitters,
    "r17_stream_neardup" -> r17StreamNearDup,
    "r19_stream_simhash_neardup" -> r19StreamSimhashNearDup,
    "r12_stream_count_min" -> r12StreamCountMin,
    "r14_stream_quantiles" -> r14StreamQuantiles,
    "r15_stream_kmv" -> r15StreamKmv,
    "r13_stream_majority" -> r13StreamMajority,
    "d18_prefix_filter_pairs" -> d18PrefixFilterPairs,
    "d19_repeated_spans" -> d19RepeatedSpans,
    "d20_weighted_cosine" -> d20WeightedCosine,
    "d21_corpus_diff" -> d21CorpusDiff,
    "d22_incremental_funnel" -> d22IncrementalFunnel,
    "d23_incremental_neardup" -> d23IncrementalNearDup,
    "r20_stream_incremental" -> r20StreamIncremental,
    "r21_stream_incremental_bucketed" -> r21StreamIncrementalBucketed,
    "t58_deterministic_shuffle" -> t58DeterministicShuffle,
    "t54_grouped_split" -> t54GroupedSplit,
    "t51_bpe_apply" -> t51BpeApply,
    "t52_pmi_pairs" -> t52PmiPairs,
    "t53_vocab_stats" -> t53VocabStats,
    "t42_url_normalize" -> t42UrlNormalize,
    "d15_host_cap" -> d15HostCap,
    "t43_html_strip" -> t43HtmlStrip,
    "t44_weighted_sample" -> t44WeightedSample,
    "t45_winsorize" -> t45Winsorize,
    "t46_dist_shift" -> t46DistShift,
    "a28_ks_two_sample" -> a28KsTwoSample,
    "a29_mann_whitney" -> a29MannWhitney,
    "s20_rrf_fusion" -> s20RrfFusion,
    "s21_kmeans" -> s21Kmeans,
    "s22_knn_graph" -> s22KnnGraph,
    "s25_graph_search" -> s25GraphSearch,
    "s26_graph_search_batch" -> s26GraphSearchBatch,
    "s23_dbscan" -> s23Dbscan,
    "s24_semantic_survivors" -> s24SemanticSurvivors,
    "t56_cohen_kappa" -> t56CohenKappa,
    "t57_substring_blocklist" -> t57SubstringBlocklist,
    "a30_kendall_tau" -> a30KendallTau,
    "a31_spearman_rho" -> a31SpearmanRho,
    "a18_sampled_quantiles" -> a18SampledQuantiles,
    "t21_classifier_score" -> t21ClassifierScore,
    "t22_tfidf_topterms" -> t22TfidfTopTerms,
    "t23_heavy_hitters" -> t23HeavyHitters,
    "t24_overlap_pairs" -> t24OverlapPairs,
  )

  /** The independent DuckDB full-funnel replay of the d22/r20 v2
    * construction (quality gate → classifier → exact-dedup groups) —
    * shared by both the batch identity gate (d22) and its streaming arm
    * (r20): whatever path maintained the verdicts, the result must equal
    * this full recompute. */
  private val d22FullFunnelSql: String =
    """WITH v2 AS (
      |  SELECT doc_id, text FROM documents WHERE doc_id >= 50
      |  UNION ALL
      |  SELECT doc_id + 10000 AS doc_id, text FROM documents
      |  WHERE doc_id >= 50 AND doc_id % 11 = 0),
      |sq AS (
      |  SELECT doc_id, text, regexp_replace(text, '^[ \t\n\x0b\f\r]+|[ \t\n\x0b\f\r]+$', '', 'g') AS t
      |  FROM v2),
      |tokq AS (
      |  SELECT doc_id, text,
      |         CASE WHEN t = '' THEN []::VARCHAR[]
      |              ELSE string_split_regex(t, '[ \t\n\x0b\f\r]+') END AS toks
      |  FROM sq),
      |stq AS (
      |  SELECT doc_id, text, length(text) AS n_chars_q, len(toks) AS n_tokens_q,
      |         CASE WHEN len(toks) > 0
      |              THEN CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE) / len(toks)
      |              ELSE 0.0 END AS mean_token_len,
      |         CASE WHEN length(text) > 0
      |              THEN CAST(length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')) AS DOUBLE) / length(text)
      |              ELSE 0.0 END AS punct_ratio
      |  FROM tokq),
      |qd AS (
      |  SELECT doc_id, text FROM stq
      |  WHERE NOT (n_chars_q < 50 OR n_chars_q > 100000
      |             OR mean_token_len < 2.0 OR mean_token_len > 12.0
      |             OR punct_ratio > 0.3)),
      |cq AS (
      |  SELECT doc_id, text,
      |         CASE WHEN t2 = '' THEN []::VARCHAR[]
      |              ELSE string_split_regex(t2, '[ \t\n\x0b\f\r]+') END AS toks
      |  FROM (SELECT doc_id, text,
      |          regexp_replace(text, '^[ \t\n\x0b\f\r]+|[ \t\n\x0b\f\r]+$', '', 'g') AS t2
      |        FROM qd)),
      |cls AS (
      |  SELECT doc_id, text FROM cq
      |  WHERE len(toks) > 0
      |    AND CAST(coalesce(list_sum(list_transform(toks,
      |          x -> ('0x' || substr(md5('w#' || x), 1, 8))::BIGINT)), 0) AS BIGINT)::DOUBLE
      |        / (len(toks) * 2147483648.0) - 1 > 0.0)
      |SELECT md5(text) AS h, MIN(doc_id) AS keep_id, count(*) AS n
      |FROM cls GROUP BY md5(text)""".stripMargin

  val oracleSql: Map[String, String] = Map(
    // the identical extraction regex runs in both engines (no
    // lookaround; whitespace class spelled out for the RE2 \s gap)
    "t32_bpeish_tokens" ->
      """WITH a AS (
        |  SELECT doc_id,
        |         text || ' v' || CAST(doc_id AS VARCHAR) || '.x=1,y=22;' AS t
        |  FROM documents WHERE doc_id < 2000),
        |s AS (SELECT doc_id, t,
        |        regexp_replace(t, '^[ \t\n\x0b\f\r]+|[ \t\n\x0b\f\r]+$', '', 'g') AS tt
        |      FROM a)
        |SELECT doc_id,
        |       CASE WHEN tt = '' THEN 0
        |            ELSE len(string_split_regex(tt, '[ \t\n\x0b\f\r]+')) END AS n_ws,
        |       len(regexp_extract_all(t, '\p{L}+|\p{N}+|[^\p{L}\p{N} \t\n\x0b\f\r]')) AS n_bpeish,
        |       CAST(len(regexp_extract_all(t, '\p{L}+|\p{N}+|[^\p{L}\p{N} \t\n\x0b\f\r]')) AS DOUBLE) /
        |         (CASE WHEN tt = '' THEN 0
        |               ELSE len(string_split_regex(tt, '[ \t\n\x0b\f\r]+')) END) AS expansion
        |FROM s""".stripMargin,
    "t1_token_count" ->
      // strip/split with Java's exact \s class spelled out — RE2's \s
      // lacks vertical tab (U+000B), so a bare '\s' would tokenize
      // differently from Spark on \x0B — mirrors TextAnalysis.tokens
      """WITH s AS (SELECT doc_id, regexp_replace(text, '^[ \t\n\x0b\f\r]+|[ \t\n\x0b\f\r]+$', '', 'g') AS t FROM documents)
        |SELECT doc_id,
        |       CASE WHEN t = '' THEN 0
        |            ELSE len(string_split_regex(t, '[ \t\n\x0b\f\r]+')) END AS n_tokens
        |FROM s""".stripMargin,
    "t2_quality_stats" ->
      """SELECT doc_id, length(text) AS n_chars2,
        |       len(string_split(text, ' ')) AS n_words,
        |       (length(text) - length(replace(text, 'the', ''))) // 3 AS the_cnt
        |FROM documents""".stripMargin,
    "t3_lang_stats" ->
      "SELECT lang, count(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS total_chars FROM documents GROUP BY lang",
    "t4_lang_id" ->
      // Mirrors TextAnalysis.langId: distinct \s+-tokens of lower(text),
      // per-profile hit counts via list_intersect (exact ints), argmax with
      // ties to earliest profile (CASE order = profile order), and the
      // ≥25%-CJK-codepoints script override checked first.
      """WITH s AS (
        |  SELECT doc_id, text,
        |         regexp_replace(lower(text), '^[ \t\n\x0b\f\r]+|[ \t\n\x0b\f\r]+$', '', 'g') AS t
        |  FROM documents),
        |tok AS (
        |  SELECT doc_id, text,
        |         CASE WHEN t = '' THEN []::VARCHAR[]
        |              ELSE list_distinct(string_split_regex(t, '[ \t\n\x0b\f\r]+')) END AS toks
        |  FROM s),
        |sc AS (
        |  SELECT doc_id, length(text) AS n_chars_t4,
        |    len(list_intersect(toks, ['the','and','of','to','a','in','is','it','you','that'])) AS s_en,
        |    len(list_intersect(toks, ['der','die','das','und','ist','nicht','ein','ich','mit','zu'])) AS s_de,
        |    len(list_intersect(toks, ['le','la','les','et','est','pas','un','une','je','que'])) AS s_fr,
        |    len(list_intersect(toks, ['el','la','los','las','es','no','un','una','yo','que'])) AS s_es,
        |    len(list_intersect(toks, ['的','了','是','我','不','在','有','他','这','就'])) AS s_zh,
        |    length(regexp_replace(text, '[^\x{4e00}-\x{9fff}]', '', 'g')) AS cjk
        |  FROM tok)
        |SELECT doc_id,
        |  CASE WHEN n_chars_t4 > 0 AND cjk * 4 >= n_chars_t4 THEN 'zh'
        |       WHEN greatest(s_en, s_de, s_fr, s_es, s_zh) = 0 THEN 'und'
        |       WHEN s_en = greatest(s_en, s_de, s_fr, s_es, s_zh) THEN 'en'
        |       WHEN s_de = greatest(s_en, s_de, s_fr, s_es, s_zh) THEN 'de'
        |       WHEN s_fr = greatest(s_en, s_de, s_fr, s_es, s_zh) THEN 'fr'
        |       WHEN s_es = greatest(s_en, s_de, s_fr, s_es, s_zh) THEN 'es'
        |       ELSE 'zh' END AS lang_pred
        |FROM sc""".stripMargin,
    "t6_quality_filter" ->
      // Mirrors TextAnalysis.qualityFilter: same \s+ token pipeline as t1,
      // [[:punct:]] = Java \p{Punct} (both the ASCII POSIX class), each
      // ratio one exact-int IEEE division → identical classification.
      """WITH s AS (
        |  SELECT doc_id, text, regexp_replace(text, '^[ \t\n\x0b\f\r]+|[ \t\n\x0b\f\r]+$', '', 'g') AS t
        |  FROM documents),
        |tok AS (
        |  SELECT doc_id, text,
        |         CASE WHEN t = '' THEN []::VARCHAR[]
        |              ELSE string_split_regex(t, '[ \t\n\x0b\f\r]+') END AS toks
        |  FROM s),
        |st AS (
        |  SELECT doc_id, length(text) AS n_chars_q, len(toks) AS n_tokens_q,
        |         CASE WHEN len(toks) > 0
        |              THEN CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE) / len(toks)
        |              ELSE 0.0 END AS mean_token_len,
        |         CASE WHEN length(text) > 0
        |              THEN CAST(length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')) AS DOUBLE) / length(text)
        |              ELSE 0.0 END AS punct_ratio
        |  FROM tok),
        |cls AS (
        |  SELECT doc_id,
        |         CASE WHEN n_chars_q < 50 THEN 'too_short'
        |              WHEN n_chars_q > 100000 THEN 'too_long'
        |              WHEN mean_token_len < 2.0 THEN 'tokens_too_short'
        |              WHEN mean_token_len > 12.0 THEN 'tokens_too_long'
        |              WHEN punct_ratio > 0.3 THEN 'too_much_punct'
        |              ELSE NULL END AS drop_reason
        |  FROM st)
        |SELECT drop_reason IS NULL AS quality_ok, drop_reason, count(*) AS n
        |FROM cls GROUP BY 1, 2""".stripMargin,
    "t5_fingerprint" ->
      """SELECT doc_id,
        |       md5(array_to_string(list_sort(list_distinct(string_split(lower(text), ' '))), ' ')) AS fp
        |FROM documents""".stripMargin,
    "d12_exact_dedup_against" ->
      """SELECT d.doc_id FROM documents d
        |WHERE d.doc_id % 10 <> 0
        |  AND NOT EXISTS (
        |    SELECT 1 FROM documents r
        |    WHERE r.doc_id % 10 = 0 AND md5(r.text) = md5(d.text))""".stripMargin,
    // d14 == d12 by CLAIM: the oracle is the plain anti-join — matching
    // it proves the Bloom pruning lossless
    "d14_bloom_dedup_against" ->
      """SELECT d.doc_id FROM documents d
        |WHERE d.doc_id % 10 <> 0
        |  AND NOT EXISTS (
        |    SELECT 1 FROM documents r
        |    WHERE r.doc_id % 10 = 0 AND md5(r.text) = md5(d.text))""".stripMargin,
    // d13: d9's signature/band construction split by the mod-10
    // predicate — new-side buckets join REFERENCE-side buckets instead
    // of a self-join; exact shingle-set Jaccard confirms, min ref id per
    // new doc is the verdict
    "d13_neardup_against" ->
      """WITH tok AS (
        |  SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents),
        |shs AS (
        |  SELECT doc_id,
        |         list_distinct(list_transform(range(1, len(toks) - 1),
        |           i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh
        |  FROM tok WHERE len(toks) >= 3),
        |shx AS (SELECT doc_id, unnest(sh) AS s FROM shs),
        |sig AS (
        |  SELECT doc_id,
        |         min(md5('1#' || s)) AS mh1, min(md5('2#' || s)) AS mh2,
        |         min(md5('3#' || s)) AS mh3, min(md5('4#' || s)) AS mh4,
        |         min(md5('5#' || s)) AS mh5, min(md5('6#' || s)) AS mh6,
        |         min(md5('7#' || s)) AS mh7, min(md5('8#' || s)) AS mh8
        |  FROM shx GROUP BY doc_id),
        |bands AS (
        |  SELECT doc_id, 0 AS band,
        |         md5(mh1 || '|' || mh2 || '|' || mh3 || '|' || mh4) AS bh FROM sig
        |  UNION ALL
        |  SELECT doc_id, 1,
        |         md5(mh5 || '|' || mh6 || '|' || mh7 || '|' || mh8) FROM sig),
        |cand AS (
        |  SELECT DISTINCT n.doc_id AS new_id, r.doc_id AS ref_id
        |  FROM bands n JOIN bands r ON n.band = r.band AND n.bh = r.bh
        |  WHERE n.doc_id % 10 <> 0 AND r.doc_id % 10 = 0),
        |confirmed AS (
        |  SELECT c.new_id, MIN(c.ref_id) AS dup_of
        |  FROM cand c
        |  JOIN shs s1 ON s1.doc_id = c.new_id
        |  JOIN shs s2 ON s2.doc_id = c.ref_id
        |  WHERE CAST(len(list_intersect(s1.sh, s2.sh)) AS DOUBLE)
        |        / len(list_distinct(list_concat(s1.sh, s2.sh))) >= 0.8
        |  GROUP BY c.new_id)
        |SELECT d.doc_id, c.dup_of, c.dup_of IS NOT NULL AS is_dup
        |FROM documents d LEFT JOIN confirmed c ON c.new_id = d.doc_id
        |WHERE d.doc_id % 10 <> 0""".stripMargin,
    // t26: t1's token-count construction feeding the histogram-based
    // tercile assignment — all-integer cumulative math, one IEEE
    // division per (lang, n_tokens) group, ties share a bucket
    "t26_length_terciles" ->
      """WITH s AS (
        |  SELECT doc_id, lang, regexp_replace(text, '^[ \t\n\x0b\f\r]+|[ \t\n\x0b\f\r]+$', '', 'g') AS t
        |  FROM documents),
        |tk AS (
        |  SELECT doc_id, lang,
        |         CASE WHEN t = '' THEN 0
        |              ELSE len(string_split_regex(t, '[ \t\n\x0b\f\r]+')) END AS n_tokens
        |  FROM s),
        |hist AS (
        |  SELECT lang, n_tokens, count(*) AS c FROM tk GROUP BY lang, n_tokens),
        |cum AS (
        |  -- CASTs: DuckDB window SUM(BIGINT) is HUGEINT; bring both
        |  -- operands back to BIGINT so the / is the same BIGINT->DOUBLE
        |  -- division Spark performs on its window LONGs
        |  SELECT lang, n_tokens, c,
        |         CAST(SUM(c) OVER (PARTITION BY lang ORDER BY n_tokens) - c AS BIGINT) AS cume,
        |         CAST(SUM(c) OVER (PARTITION BY lang) AS BIGINT) AS n
        |  FROM hist),
        |b AS (
        |  SELECT lang, n_tokens,
        |         CAST(LEAST(CAST(floor((cume * 3) / n) AS BIGINT) + 1, 3) AS INT) AS bucket
        |  FROM cum)
        |SELECT tk.doc_id, tk.lang, CAST(tk.n_tokens AS BIGINT) AS n_tokens, b.bucket
        |FROM tk JOIN b USING (lang, n_tokens)""".stripMargin,
    // curriculum = t26's bucket construction + t58's md5 keys; the rank
    // inside each (lang, bucket) IS the training order under the gate
    "t59_curriculum" ->
      """WITH s AS (
        |  SELECT doc_id, lang, regexp_replace(text, '^[ \t\n\x0b\f\r]+|[ \t\n\x0b\f\r]+$', '', 'g') AS t
        |  FROM documents),
        |tk AS (
        |  SELECT doc_id, lang,
        |         CASE WHEN t = '' THEN 0
        |              ELSE len(string_split_regex(t, '[ \t\n\x0b\f\r]+')) END AS n_tokens
        |  FROM s),
        |hist AS (
        |  SELECT lang, n_tokens, count(*) AS c FROM tk GROUP BY lang, n_tokens),
        |cum AS (
        |  SELECT lang, n_tokens, c,
        |         CAST(SUM(c) OVER (PARTITION BY lang ORDER BY n_tokens) - c AS BIGINT) AS cume,
        |         CAST(SUM(c) OVER (PARTITION BY lang) AS BIGINT) AS n
        |  FROM hist),
        |b AS (
        |  SELECT lang, n_tokens,
        |         CAST(LEAST(CAST(floor((cume * 3) / n) AS BIGINT) + 1, 3) AS INT) AS bucket
        |  FROM cum),
        |cur AS (
        |  SELECT tk.doc_id, tk.lang, b.bucket,
        |         md5('cur1|' || CAST(tk.doc_id AS VARCHAR)) AS shuffle_key
        |  FROM tk JOIN b USING (lang, n_tokens))
        |SELECT doc_id, lang, bucket,
        |       CAST(ROW_NUMBER() OVER (PARTITION BY lang, bucket
        |              ORDER BY shuffle_key ASC, doc_id ASC) AS BIGINT) AS pos
        |FROM cur""".stripMargin,
    // t25: the t6 + d9 + d11 oracle constructions chained over each
    // stage's survivor set — quality survivors feed the LSH pipeline,
    // dedup representatives feed the chunk dedup; the three stage counts
    // check the funnel's COMPOSITION
    "t25_curate_funnel" ->
      """WITH RECURSIVE sq AS (
        |  SELECT doc_id, text, regexp_replace(text, '^[ \t\n\x0b\f\r]+|[ \t\n\x0b\f\r]+$', '', 'g') AS t
        |  FROM documents),
        |tokq AS (
        |  SELECT doc_id, text,
        |         CASE WHEN t = '' THEN []::VARCHAR[]
        |              ELSE string_split_regex(t, '[ \t\n\x0b\f\r]+') END AS toks
        |  FROM sq),
        |stq AS (
        |  SELECT doc_id, text, length(text) AS n_chars_q, len(toks) AS n_tokens_q,
        |         CASE WHEN len(toks) > 0
        |              THEN CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE) / len(toks)
        |              ELSE 0.0 END AS mean_token_len,
        |         CASE WHEN length(text) > 0
        |              THEN CAST(length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')) AS DOUBLE) / length(text)
        |              ELSE 0.0 END AS punct_ratio
        |  FROM tokq),
        |qd AS (
        |  SELECT doc_id, text FROM stq
        |  WHERE NOT (n_chars_q < 50 OR n_chars_q > 100000
        |             OR mean_token_len < 2.0 OR mean_token_len > 12.0
        |             OR punct_ratio > 0.3)),
        |tok2 AS (
        |  SELECT doc_id, string_split(lower(text), ' ') AS toks FROM qd),
        |shs AS (
        |  SELECT doc_id,
        |         list_distinct(list_transform(range(1, len(toks) - 1),
        |           i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh
        |  FROM tok2 WHERE len(toks) >= 3),
        |shx AS (SELECT doc_id, unnest(sh) AS s FROM shs),
        |sig AS (
        |  SELECT doc_id,
        |         min(md5('1#' || s)) AS mh1, min(md5('2#' || s)) AS mh2,
        |         min(md5('3#' || s)) AS mh3, min(md5('4#' || s)) AS mh4,
        |         min(md5('5#' || s)) AS mh5, min(md5('6#' || s)) AS mh6,
        |         min(md5('7#' || s)) AS mh7, min(md5('8#' || s)) AS mh8
        |  FROM shx GROUP BY doc_id),
        |bands AS (
        |  SELECT doc_id, 0 AS band,
        |         md5(mh1 || '|' || mh2 || '|' || mh3 || '|' || mh4) AS bh FROM sig
        |  UNION ALL
        |  SELECT doc_id, 1,
        |         md5(mh5 || '|' || mh6 || '|' || mh7 || '|' || mh8) FROM sig),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
        |  FROM bands a JOIN bands b
        |    ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id),
        |confirmed AS (
        |  SELECT c.d1, c.d2
        |  FROM cand c
        |  JOIN shs s1 ON s1.doc_id = c.d1
        |  JOIN shs s2 ON s2.doc_id = c.d2
        |  WHERE CAST(len(list_intersect(s1.sh, s2.sh)) AS DOUBLE)
        |        / len(list_distinct(list_concat(s1.sh, s2.sh))) >= 0.8),
        |edges AS (
        |  SELECT d1, d2 FROM confirmed
        |  UNION SELECT d2, d1 FROM confirmed),
        |reach(id, r) AS (
        |  SELECT d1, d1 FROM edges
        |  UNION
        |  SELECT reach.id, e.d2 FROM reach JOIN edges e ON e.d1 = reach.r),
        |comp AS (SELECT id, min(r) AS component FROM reach GROUP BY id),
        |dd AS (
        |  SELECT q2.doc_id, q2.text FROM qd q2 LEFT JOIN comp c ON c.id = q2.doc_id
        |  WHERE coalesce(c.component, q2.doc_id) = q2.doc_id),
        |s3 AS (
        |  SELECT doc_id, regexp_replace(text, '^[ \t\n\x0b\f\r]+|[ \t\n\x0b\f\r]+$', '', 'g') AS t
        |  FROM dd),
        |tok3 AS (
        |  SELECT doc_id,
        |         CASE WHEN t = '' THEN []::VARCHAR[]
        |              ELSE string_split_regex(t, '[ \t\n\x0b\f\r]+') END AS toks
        |  FROM s3),
        |ch AS (
        |  SELECT doc_id, g.i AS chunk_idx,
        |         array_to_string(list_slice(toks, g.i * 10 + 1, g.i * 10 + 10), ' ') AS chunk
        |  FROM tok3 CROSS JOIN range(0, 64) g(i)
        |  WHERE g.i < (len(toks) + 9) // 10),
        |rk AS (
        |  SELECT doc_id, chunk_idx, chunk,
        |         row_number() OVER (PARTITION BY chunk ORDER BY doc_id, chunk_idx) AS rn
        |  FROM ch),
        |ld AS (
        |  SELECT doc_id FROM rk GROUP BY doc_id
        |  HAVING sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) > 0)
        |SELECT '1_quality' AS stage,
        |       (SELECT count(*) FROM documents) AS docs_in,
        |       (SELECT count(*) FROM qd) AS docs_out
        |UNION ALL
        |SELECT '2_neardedup', (SELECT count(*) FROM qd), (SELECT count(*) FROM dd)
        |UNION ALL
        |SELECT '3_linededup', (SELECT count(*) FROM dd), (SELECT count(*) FROM ld)""".stripMargin,
    // t25's chain extended through the remaining CLI stages: the
    // line-deduped text is REBUILT (d11's string_agg construction),
    // classified (t21's md5-uint32 mean score), decontaminated against
    // the raw-text %97 benchmark (t11's distinct 4-gram join; benchmark
    // members drop), and budget-prefixed (t13's total order, 5000 words)
    "t55_curate_funnel_full" ->
      """WITH RECURSIVE sq AS (
        |  SELECT doc_id, text, regexp_replace(text, '^[ \t\n\x0b\f\r]+|[ \t\n\x0b\f\r]+$', '', 'g') AS t
        |  FROM documents),
        |tokq AS (
        |  SELECT doc_id, text,
        |         CASE WHEN t = '' THEN []::VARCHAR[]
        |              ELSE string_split_regex(t, '[ \t\n\x0b\f\r]+') END AS toks
        |  FROM sq),
        |stq AS (
        |  SELECT doc_id, text, length(text) AS n_chars_q, len(toks) AS n_tokens_q,
        |         CASE WHEN len(toks) > 0
        |              THEN CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE) / len(toks)
        |              ELSE 0.0 END AS mean_token_len,
        |         CASE WHEN length(text) > 0
        |              THEN CAST(length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')) AS DOUBLE) / length(text)
        |              ELSE 0.0 END AS punct_ratio
        |  FROM tokq),
        |qd AS (
        |  SELECT doc_id, text FROM stq
        |  WHERE NOT (n_chars_q < 50 OR n_chars_q > 100000
        |             OR mean_token_len < 2.0 OR mean_token_len > 12.0
        |             OR punct_ratio > 0.3)),
        |tok2 AS (
        |  SELECT doc_id, string_split(lower(text), ' ') AS toks FROM qd),
        |shs AS (
        |  SELECT doc_id,
        |         list_distinct(list_transform(range(1, len(toks) - 1),
        |           i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh
        |  FROM tok2 WHERE len(toks) >= 3),
        |shx AS (SELECT doc_id, unnest(sh) AS s FROM shs),
        |sig AS (
        |  SELECT doc_id,
        |         min(md5('1#' || s)) AS mh1, min(md5('2#' || s)) AS mh2,
        |         min(md5('3#' || s)) AS mh3, min(md5('4#' || s)) AS mh4,
        |         min(md5('5#' || s)) AS mh5, min(md5('6#' || s)) AS mh6,
        |         min(md5('7#' || s)) AS mh7, min(md5('8#' || s)) AS mh8
        |  FROM shx GROUP BY doc_id),
        |bands AS (
        |  SELECT doc_id, 0 AS band,
        |         md5(mh1 || '|' || mh2 || '|' || mh3 || '|' || mh4) AS bh FROM sig
        |  UNION ALL
        |  SELECT doc_id, 1,
        |         md5(mh5 || '|' || mh6 || '|' || mh7 || '|' || mh8) FROM sig),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
        |  FROM bands a JOIN bands b
        |    ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id),
        |confirmed AS (
        |  SELECT c.d1, c.d2
        |  FROM cand c
        |  JOIN shs s1 ON s1.doc_id = c.d1
        |  JOIN shs s2 ON s2.doc_id = c.d2
        |  WHERE CAST(len(list_intersect(s1.sh, s2.sh)) AS DOUBLE)
        |        / len(list_distinct(list_concat(s1.sh, s2.sh))) >= 0.8),
        |edges AS (
        |  SELECT d1, d2 FROM confirmed
        |  UNION SELECT d2, d1 FROM confirmed),
        |reach(id, r) AS (
        |  SELECT d1, d1 FROM edges
        |  UNION
        |  SELECT reach.id, e.d2 FROM reach JOIN edges e ON e.d1 = reach.r),
        |comp AS (SELECT id, min(r) AS component FROM reach GROUP BY id),
        |dd AS (
        |  SELECT q2.doc_id, q2.text FROM qd q2 LEFT JOIN comp c ON c.id = q2.doc_id
        |  WHERE coalesce(c.component, q2.doc_id) = q2.doc_id),
        |s3 AS (
        |  SELECT doc_id, regexp_replace(text, '^[ \t\n\x0b\f\r]+|[ \t\n\x0b\f\r]+$', '', 'g') AS t
        |  FROM dd),
        |tok3 AS (
        |  SELECT doc_id,
        |         CASE WHEN t = '' THEN []::VARCHAR[]
        |              ELSE string_split_regex(t, '[ \t\n\x0b\f\r]+') END AS toks
        |  FROM s3),
        |ch AS (
        |  SELECT doc_id, g.i AS chunk_idx,
        |         array_to_string(list_slice(toks, g.i * 10 + 1, g.i * 10 + 10), ' ') AS chunk
        |  FROM tok3 CROSS JOIN range(0, 64) g(i)
        |  WHERE g.i < (len(toks) + 9) // 10),
        |rk AS (
        |  SELECT doc_id, chunk_idx, chunk,
        |         row_number() OVER (PARTITION BY chunk ORDER BY doc_id, chunk_idx) AS rn
        |  FROM ch),
        |ld AS (
        |  SELECT doc_id,
        |         string_agg(CASE WHEN rn = 1 THEN chunk END, ' ' ORDER BY chunk_idx) AS rb
        |  FROM rk GROUP BY doc_id
        |  HAVING sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) > 0),
        |s4 AS (
        |  SELECT doc_id, rb,
        |         regexp_replace(rb, '^[ \t\n\x0b\f\r]+|[ \t\n\x0b\f\r]+$', '', 'g') AS t
        |  FROM ld),
        |tok4 AS (
        |  SELECT doc_id, rb,
        |         CASE WHEN t = '' THEN []::VARCHAR[]
        |              ELSE string_split_regex(t, '[ \t\n\x0b\f\r]+') END AS toks
        |  FROM s4),
        |cls AS (
        |  SELECT doc_id, rb FROM tok4
        |  WHERE len(toks) > 0
        |    AND CAST(coalesce(list_sum(list_transform(toks,
        |          x -> ('0x' || substr(md5('w#' || x), 1, 8))::BIGINT)), 0) AS BIGINT)::DOUBLE
        |        / (len(toks) * 2147483648.0) - 1 > 0.0),
        |tok5 AS (
        |  SELECT doc_id, rb, string_split(lower(rb), ' ') AS toks
        |  FROM cls WHERE doc_id % 97 <> 0),
        |sh5 AS (
        |  SELECT doc_id,
        |         unnest(list_distinct(list_transform(range(1, len(toks) - 2),
        |           i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3]))) AS shingle
        |  FROM tok5 WHERE len(toks) >= 4),
        |btok AS (
        |  SELECT string_split(lower(text), ' ') AS toks
        |  FROM documents WHERE doc_id % 97 = 0),
        |bsh AS (
        |  SELECT DISTINCT unnest(list_distinct(list_transform(range(1, len(toks) - 2),
        |           i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3]))) AS shingle
        |  FROM btok WHERE len(toks) >= 4),
        |hitd AS (SELECT DISTINCT s.doc_id FROM sh5 s JOIN bsh b USING (shingle)),
        |dec AS (
        |  SELECT t5.doc_id, t5.rb FROM tok5 t5 LEFT JOIN hitd h ON h.doc_id = t5.doc_id
        |  WHERE h.doc_id IS NULL),
        |run6 AS (
        |  SELECT doc_id,
        |         SUM(len(string_split(rb, ' '))) OVER (
        |           ORDER BY length(rb) DESC, doc_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run
        |  FROM dec),
        |b6 AS (SELECT doc_id FROM run6 WHERE run <= 5000)
        |SELECT '1_quality' AS stage,
        |       (SELECT count(*) FROM documents) AS docs_in,
        |       (SELECT count(*) FROM qd) AS docs_out
        |UNION ALL
        |SELECT '2_neardedup', (SELECT count(*) FROM qd), (SELECT count(*) FROM dd)
        |UNION ALL
        |SELECT '3_linededup', (SELECT count(*) FROM dd), (SELECT count(*) FROM ld)
        |UNION ALL
        |SELECT '4_classify', (SELECT count(*) FROM ld), (SELECT count(*) FROM cls)
        |UNION ALL
        |SELECT '5_decontam', (SELECT count(*) FROM cls), (SELECT count(*) FROM dec)
        |UNION ALL
        |SELECT '6_budget', (SELECT count(*) FROM dec), (SELECT count(*) FROM b6)""".stripMargin,
    "d2_exact_dedup" ->
      """SELECT md5(text) AS h, MIN(doc_id) AS keep_id, count(*) AS n
        |FROM documents GROUP BY md5(text)""".stripMargin,
    // incremental-funnel twin: an INDEPENDENT full replay of funnel(v2)
    // (t55's quality + classifier CTEs over the v2 snapshot, then d2's
    // dedup) — the query under test returns the INCREMENTAL result, so
    // hash equality here is the versioning identity itself
    "d22_incremental_funnel" -> d22FullFunnelSql,
    // independent full LSH replay of the v2 snapshot (d5's md5-parity
    // pipeline over the d22 v2 construction): however the band rows and
    // pairs were maintained incrementally, the result must equal this
    "d23_incremental_neardup" ->
      """WITH v2 AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id >= 50
        |  UNION ALL
        |  SELECT doc_id + 10000 AS doc_id, text FROM documents
        |  WHERE doc_id >= 50 AND doc_id % 11 = 0),
        |tok AS (
        |  SELECT doc_id, string_split(lower(text), ' ') AS toks FROM v2),
        |shx AS (
        |  SELECT doc_id,
        |         unnest(list_transform(range(1, len(toks) - 1),
        |                i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh
        |  FROM tok WHERE len(toks) >= 3),
        |sig AS (
        |  SELECT doc_id,
        |         min(md5('1#' || sh)) AS mh1, min(md5('2#' || sh)) AS mh2,
        |         min(md5('3#' || sh)) AS mh3, min(md5('4#' || sh)) AS mh4,
        |         min(md5('5#' || sh)) AS mh5, min(md5('6#' || sh)) AS mh6,
        |         min(md5('7#' || sh)) AS mh7, min(md5('8#' || sh)) AS mh8
        |  FROM shx GROUP BY doc_id),
        |bands AS (
        |  SELECT doc_id, 0 AS band,
        |         md5(mh1 || '|' || mh2 || '|' || mh3 || '|' || mh4) AS bh FROM sig
        |  UNION ALL
        |  SELECT doc_id, 1,
        |         md5(mh5 || '|' || mh6 || '|' || mh7 || '|' || mh8) FROM sig)
        |SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
        |FROM bands a JOIN bands b
        |  ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id""".stripMargin,
    // the streaming arm must land on the SAME full recompute: the only
    // difference is HOW the verdict cache was maintained (four real
    // micro-batches through the state fold instead of one batch job)
    "r20_stream_incremental" -> d22FullFunnelSql,
    // the bucketed-cache streaming arm must land on the SAME full
    // recompute: only the cache LAYOUT (live bucketed vs versioned
    // snapshots) and idempotence mechanism differ
    "r21_stream_incremental_bucketed" -> d22FullFunnelSql,
    // the batch twin of the streaming state-store dedup: the stream must
    // emit exactly one row per distinct content hash
    "r7_stream_exact_dedup" ->
      """SELECT DISTINCT md5(text) AS h FROM documents""".stripMargin,
    // exact-regime MG summary ≡ the plain batch GROUP BY (no trim fires
    // at capacity 256, so held counts are the exact per-key counts and
    // the eight-micro-batch drain must land on them precisely)
    "r11_stream_heavy_hitters" ->
      """SELECT CAST(user_id AS VARCHAR) AS key, count(*) AS n
        |FROM events GROUP BY 1""".stripMargin,
    // every Count-Min counter rebuilt from the same salted-md5-60
    // positions (the a20 replay): counter(r,c) = token instances
    // hashing to column c under salt r
    "r12_stream_count_min" ->
      """WITH tok AS (
        |  SELECT u.w AS tok
        |  FROM documents d, unnest(string_split(lower(d.text), ' ')) u(w)
        |  WHERE u.w <> ''),
        |ex AS (SELECT tok, CAST(count(*) AS BIGINT) AS cnt FROM tok GROUP BY tok),
        |pos AS (
        |  SELECT ex.tok, r.r,
        |         ('0x' || substr(md5(r.r::VARCHAR || '#' || ex.tok), 1, 15))::BIGINT % 256 AS c
        |  FROM ex, range(4) r(r))
        |SELECT p.r, p.c, CAST(sum(ex.cnt) AS BIGINT) AS v
        |FROM ex JOIN pos p USING (tok)
        |GROUP BY p.r, p.c""".stripMargin,
    // Boyer-Moore invariant: the strict-majority key is the unique
    // possible survivor of the capacity-1 trim rule, any arrival order
    "r13_stream_majority" ->
      """WITH k AS (
        |  SELECT CASE WHEN event_id % 3 < 2 THEN 'M'
        |              ELSE 'x' || CAST(event_id AS VARCHAR) END AS key
        |  FROM events)
        |SELECT key FROM k GROUP BY key
        |HAVING count(*) * 2 > (SELECT count(*) FROM k)""".stripMargin,
    // BRUTE-FORCE all-pairs over the same window: the prefix filter must
    // return exactly this set (completeness, not just precision); same
    // lowercased single-space token sets, same multiplied-through
    // integer verdict inter*10 >= uni*9
    // grouped split thresholds: boundaryHex(0.80)=cccd, (0.90)=e666 —
    // md5 of the DOMAIN string, so all docs of a site share a split
    "t54_grouped_split" ->
      """WITH g AS (
        |  SELECT doc_id,
        |         'site' || (doc_id % 13)::VARCHAR || '.com' AS domain
        |  FROM documents)
        |SELECT doc_id, domain,
        |       CASE WHEN substr(md5(domain), 1, 4) < 'cccd' THEN 'train'
        |            WHEN substr(md5(domain), 1, 4) < 'e666' THEN 'val'
        |            ELSE 'test' END AS split
        |FROM g""".stripMargin,
    "d18_prefix_filter_pairs" ->
      """WITH d AS (
        |  SELECT doc_id, list_distinct(list_filter(string_split(lower(text), ' '),
        |                                           t -> t <> '')) AS ts
        |  FROM documents WHERE doc_id < 200),
        |p AS (
        |  SELECT a.doc_id AS d1, b.doc_id AS d2,
        |         CAST(len(list_intersect(a.ts, b.ts)) AS BIGINT) AS inter,
        |         CAST(len(a.ts) + len(b.ts) - len(list_intersect(a.ts, b.ts)) AS BIGINT) AS uni
        |  FROM d a JOIN d b ON a.doc_id < b.doc_id)
        |SELECT d1, d2, inter, uni FROM p
        |WHERE inter * 10 >= uni * 9""".stripMargin,
    // streaming near-dup twin: by construction (per-doc unique tokens,
    // minMatch = numHashes) the only near-dup matches are the planted
    // copies, so the expected pair set is one row per windowed doc
    "r17_stream_neardup" ->
      """SELECT doc_id AS d1, doc_id + 100000 AS d2
        |FROM documents WHERE doc_id < 300""".stripMargin,
    // same planted construction through the SimHash arm
    "r19_stream_simhash_neardup" ->
      """SELECT doc_id AS d1, doc_id + 100000 AS d2
        |FROM documents WHERE doc_id < 300""".stripMargin,
    // snapshot-diff mirror: 16-byte hashes before the full-outer join
    "d21_corpus_diff" ->
      """WITH vold AS (
        |  SELECT doc_id,
        |    md5(CASE WHEN doc_id % 7 = 0 THEN 'OLD ' || text ELSE text END) AS h
        |  FROM documents WHERE doc_id < 450),
        |vnew AS (
        |  SELECT doc_id, md5(text) AS h FROM documents WHERE doc_id >= 50)
        |SELECT COALESCE(vold.doc_id, vnew.doc_id) AS doc_id,
        |  CASE WHEN vold.h IS NULL THEN 'added'
        |       WHEN vnew.h IS NULL THEN 'removed'
        |       WHEN vold.h = vnew.h THEN 'same'
        |       ELSE 'changed' END AS status
        |FROM vold FULL OUTER JOIN vnew ON vold.doc_id = vnew.doc_id""".stripMargin,
    // deterministic-shuffle mirror: md5(seed || '|' || id) is the order
    "t58_deterministic_shuffle" ->
      """SELECT doc_id, md5('epoch3|' || CAST(doc_id AS VARCHAR)) AS shuffle_key
        |FROM documents
        |ORDER BY shuffle_key ASC LIMIT 20""".stripMargin,
    // weighted-cosine mirror: brute-force inverted-index join over the
    // window with the identical squared integer verdict
    "d20_weighted_cosine" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(list_filter(string_split(lower(text), ' '),
        |                                    t -> t <> '')) AS t
        |  FROM documents WHERE doc_id < 200),
        |tf AS (SELECT doc_id, t, count(*) AS tf FROM tok GROUP BY 1, 2),
        |nrm AS (SELECT doc_id, SUM(tf * tf) AS n2 FROM tf GROUP BY 1),
        |dots AS (
        |  SELECT a.doc_id AS d1, b.doc_id AS d2, SUM(CAST(a.tf AS HUGEINT) * b.tf) AS dot
        |  FROM tf a JOIN tf b ON a.t = b.t AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT d1, d2, CAST(dot AS BIGINT) AS dot,
        |       CAST(na.n2 AS BIGINT) AS n2_1, CAST(nb.n2 AS BIGINT) AS n2_2
        |FROM dots JOIN nrm na ON na.doc_id = d1 JOIN nrm nb ON nb.doc_id = d2
        |WHERE dot * dot * 25 >= 16 * CAST(na.n2 AS HUGEINT) * nb.n2""".stripMargin,
    // repeated-span mirror: zipped-unnest grams with positions (the t11
    // shingle pattern), HAVING-count repeated set, start join, then the
    // identical bounded window (ROWS 3 PRECEDING) for coverage and an
    // ordered FILTER string_agg for the rebuilt text (COALESCE for the
    // all-covered doc: Spark's array_join of [] is '')
    "d19_repeated_spans" ->
      """WITH tok AS (
        |  SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents),
        |g AS (
        |  SELECT doc_id,
        |         unnest(range(1, len(toks) - 2)) AS s,
        |         unnest(list_transform(range(1, len(toks) - 2),
        |           i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3])) AS gram
        |  FROM tok WHERE len(toks) >= 4),
        |rep AS (SELECT gram FROM g GROUP BY gram HAVING count(*) >= 2),
        |st AS (SELECT g.doc_id, g.s FROM g JOIN rep USING (gram)),
        |pos AS (
        |  SELECT doc_id, unnest(range(1, len(toks) + 1)) AS p, unnest(toks) AS tok
        |  FROM tok),
        |mk AS (
        |  SELECT pos.doc_id, pos.p, pos.tok,
        |         CASE WHEN st.s IS NULL THEN 0 ELSE 1 END AS stf
        |  FROM pos LEFT JOIN st ON pos.doc_id = st.doc_id AND pos.p = st.s),
        |cv AS (
        |  SELECT doc_id, p, tok, stf,
        |         max(stf) OVER (PARTITION BY doc_id ORDER BY p
        |           ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS cov
        |  FROM mk)
        |SELECT doc_id,
        |  CAST(count(*) AS BIGINT) AS n_tokens,
        |  CAST(sum(stf) AS BIGINT) AS n_rep_starts,
        |  CAST(sum(cov) AS BIGINT) AS covered_tokens,
        |  COALESCE(string_agg(tok, ' ' ORDER BY p) FILTER (WHERE cov = 0), '') AS kept_text
        |FROM cv GROUP BY doc_id""".stripMargin,
    "t7_hash_split" ->
      """SELECT CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < 'e666' THEN 'train'
        |            WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < 'f333' THEN 'val'
        |            ELSE 'test' END AS split, count(*) AS n
        |FROM documents GROUP BY 1""".stripMargin,
    "t8_deterministic_sample" ->
      """SELECT doc_id FROM documents
        |WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < '199a'""".stripMargin,
    "t12_stratified_sample" ->
      // boundaryHex: 1.0 -> 'g' (all 4-hex keys sort below), 0.5 -> '8000',
      // 0.25 -> '4000', 0.10 -> round(.1*65536)=6554 = '199a' (same
      // threshold as t8)
      """SELECT doc_id, source FROM documents
        |WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) <
        |      CASE source WHEN 'src0' THEN 'g' WHEN 'src1' THEN '8000'
        |                  WHEN 'src2' THEN '4000' ELSE '199a' END""".stripMargin,
    "t13_token_budget" ->
      // same total order (n_chars DESC, doc_id ASC) and inclusive running
      // word-count budget; exact ints → identical prefix in any engine
      """SELECT doc_id FROM (
        |  SELECT doc_id,
        |         SUM(len(string_split(text, ' '))) OVER (
        |           ORDER BY n_chars DESC, doc_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run
        |  FROM documents) t
        |WHERE run <= 10000""".stripMargin,
    "t9_repetition" ->
      // mirrors ngramRepetitionStats(n=1): space-split of lower(text)
      // (empties kept, like Java split(" ", -1)), per-(doc,word) counts,
      // then exact-int rollup + one IEEE division per fraction
      """WITH g AS (
        |  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS gram
        |  FROM documents),
        |c AS (SELECT doc_id, gram, count(*) AS cnt FROM g GROUP BY 1, 2)
        |SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_grams,
        |       CAST(MAX(cnt) AS DOUBLE) / SUM(cnt) AS top_frac,
        |       CAST(COUNT(*) AS DOUBLE) / SUM(cnt) AS distinct_frac
        |FROM c GROUP BY doc_id""".stripMargin,
    "t10_top_ngram" ->
      // 2-grams with multiplicity: toks[i] || ' ' || toks[i+1] for
      // i in [1, len-1] (1-indexed) — the non-distinct shingle kernel
      """WITH tok AS (
        |  SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents),
        |g AS (
        |  SELECT doc_id,
        |         unnest(list_transform(range(1, len(toks)),
        |                               i -> toks[i] || ' ' || toks[i + 1])) AS gram
        |  FROM tok WHERE len(toks) >= 2),
        |c AS (SELECT doc_id, gram, count(*) AS cnt FROM g GROUP BY 1, 2)
        |SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_grams,
        |       CAST(MAX(cnt) AS DOUBLE) / SUM(cnt) AS top_frac,
        |       CAST(COUNT(*) AS DOUBLE) / SUM(cnt) AS distinct_frac
        |FROM c GROUP BY doc_id""".stripMargin,
    "t11_decontam" ->
      // distinct 4-gram shingles per doc on both sides (the Spark kernel
      // dedups per document), benchmark set distinct across docs, equi-join
      // + per-doc count of shared shingles
      """WITH tok AS (
        |  SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents),
        |sh AS (
        |  SELECT doc_id,
        |         unnest(list_distinct(list_transform(range(1, len(toks) - 2),
        |           i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3]))) AS shingle
        |  FROM tok WHERE len(toks) >= 4),
        |bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 97 = 0)
        |SELECT s.doc_id, count(*) AS n_hits
        |FROM sh s JOIN bench b USING (shingle)
        |WHERE s.doc_id % 97 <> 0
        |GROUP BY s.doc_id""".stripMargin,
    // DSIR mirror: md5-bucketed unigrams, +1-smoothed ratio table over
    // ALL 64 buckets (zero-count buckets included via the range join so
    // smoothing is total-preserving), three fixed-order double divisions
    // for the ratio, bucket-ordered fold for the weight; DOUBLE casts on
    // every literal-adjacent value (DuckDB decimal-literal hazard)
    "t33_dsir_weights" ->
      """WITH st AS (
        |  SELECT doc_id, lang,
        |    regexp_replace(text, '^[ \t\n\x0b\f\r]+|[ \t\n\x0b\f\r]+$', '', 'g') AS t
        |  FROM documents),
        |tok AS (
        |  SELECT doc_id, lang, unnest(string_split_regex(t, '[ \t\n\x0b\f\r]+')) AS token
        |  FROM st WHERE t <> ''),
        |buck AS (
        |  SELECT doc_id, lang,
        |    ('0x' || substr(md5(token), 1, 8))::BIGINT % 64 AS bucket
        |  FROM tok),
        |allb AS (SELECT CAST(t.i AS BIGINT) AS bucket FROM range(0, 64) t(i)),
        |tc AS (SELECT bucket, count(*) AS c FROM buck WHERE lang = 'en' GROUP BY bucket),
        |sc AS (SELECT bucket, count(*) AS c FROM buck GROUP BY bucket),
        |tp AS (SELECT allb.bucket, COALESCE(tc.c, 0) + 1 AS cs FROM allb LEFT JOIN tc USING (bucket)),
        |sp AS (SELECT allb.bucket, COALESCE(sc.c, 0) + 1 AS cs FROM allb LEFT JOIN sc USING (bucket)),
        |tt AS (SELECT CAST(sum(cs) AS DOUBLE) AS v FROM tp),
        |ss AS (SELECT CAST(sum(cs) AS DOUBLE) AS v FROM sp),
        |rat AS (
        |  SELECT tp.bucket,
        |    ((CAST(tp.cs AS DOUBLE) / (SELECT v FROM tt)) /
        |     (CAST(sp.cs AS DOUBLE) / (SELECT v FROM ss))) AS ratio
        |  FROM tp JOIN sp USING (bucket)),
        |dtf AS (SELECT doc_id, bucket, count(*) AS tf FROM buck GROUP BY doc_id, bucket)
        |SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tokens,
        |  list_reduce(list(CAST(tf AS DOUBLE) * ratio ORDER BY bucket), (a, b) -> a + b) AS weight
        |FROM dtf JOIN rat USING (bucket)
        |GROUP BY doc_id""".stripMargin,
    // multiplicity-preserving bigrams (no list_distinct on the doc side),
    // reference vocabulary distinct over src0/src1, LEFT JOIN + null-count,
    // one final IEEE division
    "t18_lm_novelty" ->
      """WITH tok AS (
        |  SELECT doc_id, source, string_split(lower(text), ' ') AS toks FROM documents),
        |ref AS (
        |  SELECT DISTINCT unnest(list_transform(range(1, len(toks)),
        |           i -> toks[i] || ' ' || toks[i+1])) AS bg
        |  FROM tok WHERE source IN ('src0', 'src1')),
        |bgs AS (
        |  SELECT doc_id, unnest(list_transform(range(1, len(toks)),
        |           i -> toks[i] || ' ' || toks[i+1])) AS bg
        |  FROM tok),
        |scored AS (
        |  SELECT b.doc_id,
        |         count(*) AS n_bigrams,
        |         sum(CASE WHEN r.bg IS NULL THEN 1 ELSE 0 END) AS n_unseen
        |  FROM bgs b LEFT JOIN ref r ON b.bg = r.bg
        |  GROUP BY b.doc_id)
        |SELECT doc_id, n_bigrams::BIGINT AS n_bigrams, n_unseen::BIGINT AS n_unseen,
        |       CAST(n_unseen AS DOUBLE) / n_bigrams AS novelty
        |FROM scored ORDER BY doc_id""".stripMargin,
    // KMV sketch algebra replayed relationally: per-source bottom-64
    // md5-prefix hashes, pairwise union-held/shared set arithmetic, one
    // division per estimate; exact Jaccard from the distinct bigram join
    "a17_kmv_overlap" ->
      """WITH tok AS (SELECT source, string_split(lower(text), ' ') AS toks FROM documents),
        |bg AS (SELECT DISTINCT source, unnest(list_transform(range(1, len(toks)),
        |         i -> toks[i] || ' ' || toks[i+1])) AS bg FROM tok),
        |hv AS (SELECT DISTINCT source, ('0x' || substr(md5(bg), 1, 15))::BIGINT AS hv FROM bg),
        |r AS (SELECT source, hv, ROW_NUMBER() OVER (PARTITION BY source ORDER BY hv) AS rn FROM hv),
        |sk AS (SELECT source, list(hv ORDER BY hv) AS ks FROM r WHERE rn <= 64 GROUP BY source),
        |szs AS (SELECT source, count(*) AS n FROM bg GROUP BY source),
        |u AS (SELECT a.source AS source_a, b.source AS source_b, a.ks AS ka, b.ks AS kb,
        |             list_sort(list_distinct(flatten([a.ks, b.ks])))[1:64] AS ku
        |      FROM sk a JOIN sk b ON a.source < b.source),
        |est AS (SELECT source_a, source_b,
        |         CAST(len(ku) AS BIGINT) AS n_union_held,
        |         CAST(len(list_filter(ku, x -> list_contains(ka, x) AND list_contains(kb, x))) AS BIGINT) AS est_shared,
        |         CAST(len(list_filter(ku, x -> list_contains(ka, x) AND list_contains(kb, x))) AS DOUBLE)
        |           / len(ku) AS est_jaccard
        |        FROM u),
        |ex AS (SELECT a.source AS source_a, b.source AS source_b, count(*) AS ns
        |       FROM bg a JOIN bg b ON a.bg = b.bg AND a.source < b.source
        |       GROUP BY a.source, b.source)
        |SELECT e.source_a, e.source_b, n_union_held, est_shared, est_jaccard,
        |       CAST(x.ns AS BIGINT) AS exact_shared,
        |       CAST(x.ns AS DOUBLE) / (na.n + nb.n - x.ns) AS exact_jaccard
        |FROM est e
        |JOIN ex x ON x.source_a = e.source_a AND x.source_b = e.source_b
        |JOIN szs na ON na.source = e.source_a
        |JOIN szs nb ON nb.source = e.source_b
        |ORDER BY e.source_a, e.source_b""".stripMargin,
    // t18's construction with the reference side as GROUP BY counts
    // instead of DISTINCT membership — exact ints, one final division
    "t31_bigram_familiarity" ->
      """WITH tok AS (
        |  SELECT doc_id, source, string_split(lower(text), ' ') AS toks FROM documents),
        |ref AS (
        |  SELECT bg, count(*) AS ref_n FROM (
        |    SELECT unnest(list_transform(range(1, len(toks)),
        |             i -> toks[i] || ' ' || toks[i+1])) AS bg
        |    FROM tok WHERE source IN ('src0', 'src1'))
        |  GROUP BY bg),
        |bgs AS (
        |  SELECT doc_id, unnest(list_transform(range(1, len(toks)),
        |           i -> toks[i] || ' ' || toks[i+1])) AS bg
        |  FROM tok),
        |scored AS (
        |  SELECT b.doc_id,
        |         count(*) AS n_bigrams,
        |         sum(COALESCE(r.ref_n, 0)) AS ref_total
        |  FROM bgs b LEFT JOIN ref r ON b.bg = r.bg
        |  GROUP BY b.doc_id)
        |SELECT doc_id, n_bigrams::BIGINT AS n_bigrams, ref_total::BIGINT AS ref_total,
        |       CAST(ref_total AS DOUBLE) / n_bigrams AS familiarity
        |FROM scored ORDER BY doc_id""".stripMargin,
    // KMV bottom-k over md5-prefix hashes: k-th smallest distinct hash via
    // a window rank, estimate = (k-1)*16^15 / h_k (one IEEE division);
    // below saturation the held count is the exact distinct count
    // HLL registers rebuilt relationally: bucket = low 6 hash bits,
    // rho = 55 − bin-length of the remaining 54 bits (0 → 55); the
    // harmonic sum stays exact via the 2^(55−r) integer scaling, empty
    // buckets contribute 2^55 each
    // counters replayed cell by cell: counter(r,c) = token instances
    // hashing to c under salt r (same "r#" salted-md5-60 family), the
    // estimate = min over the 4 rows at the probe token's positions
    "a20_count_min" ->
      """WITH tok AS (
        |  SELECT u.w AS tok
        |  FROM documents d, unnest(string_split(lower(d.text), ' ')) u(w)
        |  WHERE u.w <> ''),
        |ex AS (SELECT tok, CAST(count(*) AS BIGINT) AS exact_cnt FROM tok GROUP BY tok),
        |pos AS (
        |  SELECT ex.tok, r.r,
        |         ('0x' || substr(md5(r.r::VARCHAR || '#' || ex.tok), 1, 15))::BIGINT % 256 AS c
        |  FROM ex, range(4) r(r)),
        |cnt AS (
        |  SELECT p.r, p.c, sum(ex.exact_cnt) AS v
        |  FROM ex JOIN pos p USING (tok) GROUP BY p.r, p.c),
        |est AS (
        |  SELECT p.tok, min(c2.v) AS cm_estimate
        |  FROM pos p JOIN cnt c2 ON c2.r = p.r AND c2.c = p.c
        |  GROUP BY p.tok),
        |top AS (SELECT tok, exact_cnt FROM ex ORDER BY exact_cnt DESC, tok LIMIT 30)
        |SELECT t.tok, t.exact_cnt, CAST(e.cm_estimate AS BIGINT) AS cm_estimate
        |FROM top t JOIN est e USING (tok)""".stripMargin,
    // the oracle computes WHOLE-CORPUS registers directly; Spark merges
    // per-source sketches by elementwise max — the hash matches only if
    // union-of-sketches == sketch-of-union
    "a22_hll_union" ->
      """WITH tok AS (
        |  SELECT string_split(lower(text), ' ') AS toks FROM documents),
        |bg AS (
        |  SELECT DISTINCT unnest(list_transform(range(1, len(toks)),
        |           i -> toks[i] || ' ' || toks[i+1])) AS bg
        |  FROM tok),
        |h AS (SELECT DISTINCT ('0x' || substr(md5(bg), 1, 15))::BIGINT AS hv FROM bg),
        |r AS (SELECT hv % 64 AS bucket, hv // 64 AS rest FROM h),
        |rho AS (
        |  SELECT bucket,
        |         max(CASE WHEN rest = 0 THEN 55
        |                  ELSE 55 - length(bin(rest)) END) AS rr
        |  FROM r GROUP BY 1),
        |agg AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_nonzero,
        |         CAST(sum((1::BIGINT) << (55 - rr)) +
        |              (64 - count(*)) * ((1::BIGINT) << 55) AS BIGINT) AS s_scaled
        |  FROM rho),
        |ex AS (SELECT CAST(count(*) AS BIGINT) AS exact_bigrams FROM bg)
        |SELECT exact_bigrams, n_nonzero, s_scaled,
        |       CAST(0.709 AS DOUBLE) * CAST(4096 AS DOUBLE) *
        |         CAST(36028797018963968 AS DOUBLE) / CAST(s_scaled AS DOUBLE)
        |         AS hll_estimate
        |FROM ex, agg""".stripMargin,
    "a19_hll_distinct" ->
      """WITH tok AS (
        |  SELECT lang, string_split(lower(text), ' ') AS toks FROM documents),
        |bg AS (
        |  SELECT DISTINCT lang, unnest(list_transform(range(1, len(toks)),
        |           i -> toks[i] || ' ' || toks[i+1])) AS bg
        |  FROM tok),
        |h AS (
        |  SELECT DISTINCT lang, ('0x' || substr(md5(bg), 1, 15))::BIGINT AS hv
        |  FROM bg),
        |r AS (SELECT lang, hv % 64 AS bucket, hv // 64 AS rest FROM h),
        |rho AS (
        |  SELECT lang, bucket,
        |         max(CASE WHEN rest = 0 THEN 55
        |                  ELSE 55 - length(bin(rest)) END) AS rr
        |  FROM r GROUP BY 1, 2),
        |agg AS (
        |  SELECT lang, CAST(count(*) AS BIGINT) AS n_nonzero,
        |         CAST(sum((1::BIGINT) << (55 - rr)) +
        |              (64 - count(*)) * ((1::BIGINT) << 55) AS BIGINT) AS s_scaled
        |  FROM rho GROUP BY 1),
        |ex AS (SELECT lang, count(DISTINCT bg) AS exact_bigrams FROM bg GROUP BY 1)
        |SELECT lang, exact_bigrams, n_nonzero, s_scaled,
        |       CAST(0.709 AS DOUBLE) * CAST(4096 AS DOUBLE) *
        |         CAST(36028797018963968 AS DOUBLE) / CAST(s_scaled AS DOUBLE)
        |         AS hll_estimate
        |FROM ex JOIN agg USING (lang) ORDER BY lang""".stripMargin,
    // r15: a9's sketch construction minus the exact-count join (which
    // a9 keeps batch-side) — the stream must land on the identical rows
    "r15_stream_kmv" ->
      """WITH tok AS (
        |  SELECT lang, string_split(lower(text), ' ') AS toks FROM documents),
        |bg AS (
        |  SELECT DISTINCT lang, unnest(list_transform(range(1, len(toks)),
        |           i -> toks[i] || ' ' || toks[i+1])) AS bg
        |  FROM tok),
        |r AS (
        |  SELECT lang, hv,
        |         ROW_NUMBER() OVER (PARTITION BY lang ORDER BY hv) AS rn,
        |         count(*) OVER (PARTITION BY lang) AS nd
        |  FROM (SELECT DISTINCT lang, ('0x' || substr(md5(bg), 1, 15))::BIGINT AS hv FROM bg)),
        |agg AS (
        |  SELECT lang,
        |         CAST(least(max(nd), 64) AS BIGINT) AS n_held,
        |         max(CASE WHEN rn = 64 THEN hv END) AS h_k,
        |         CAST(max(nd) AS BIGINT) AS nd
        |  FROM r GROUP BY lang)
        |SELECT lang, n_held, h_k,
        |       CASE WHEN n_held < 64 THEN CAST(n_held AS DOUBLE)
        |            ELSE 63.0 * 1152921504606846976.0 / CAST(h_k AS DOUBLE) END AS kmv_estimate
        |FROM agg""".stripMargin,
    "a9_kmv_distinct" ->
      """WITH tok AS (
        |  SELECT lang, string_split(lower(text), ' ') AS toks FROM documents),
        |bg AS (
        |  SELECT DISTINCT lang, unnest(list_transform(range(1, len(toks)),
        |           i -> toks[i] || ' ' || toks[i+1])) AS bg
        |  FROM tok),
        |r AS (
        |  SELECT lang, hv,
        |         ROW_NUMBER() OVER (PARTITION BY lang ORDER BY hv) AS rn,
        |         count(*) OVER (PARTITION BY lang) AS nd
        |  FROM (SELECT DISTINCT lang, ('0x' || substr(md5(bg), 1, 15))::BIGINT AS hv FROM bg)),
        |agg AS (
        |  SELECT lang,
        |         CAST(max(nd) AS BIGINT) AS exact_bigrams,
        |         CAST(least(max(nd), 64) AS BIGINT) AS n_held,
        |         max(CASE WHEN rn = 64 THEN hv END) AS h_k
        |  FROM r GROUP BY lang)
        |SELECT lang, exact_bigrams, n_held, h_k,
        |       CASE WHEN n_held < 64 THEN CAST(n_held AS DOUBLE)
        |            ELSE 63.0 * 1152921504606846976.0 / CAST(h_k AS DOUBLE) END AS kmv_estimate
        |FROM agg ORDER BY lang""".stripMargin,
    // planted PII from doc_id arithmetic, RE2-safe patterns, redacted text
    // verified via md5 — regexp semantics agree between Java and RE2 on
    // these explicit character classes
    "t19_pii_redact" ->
      """WITH aug AS (
        |  SELECT doc_id,
        |         text ||
        |         CASE WHEN doc_id % 3 = 0
        |              THEN ' contact user' || doc_id::VARCHAR || '@mail.example.com now'
        |              ELSE '' END ||
        |         CASE WHEN doc_id % 5 = 0
        |              THEN ' call 555-' || lpad((doc_id % 1000)::VARCHAR, 3, '0') || '-' ||
        |                   lpad(((doc_id * 7) % 10000)::VARCHAR, 4, '0')
        |              ELSE '' END AS t
        |  FROM documents)
        |SELECT doc_id,
        |       CAST(len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
        |       CAST(len(regexp_extract_all(t, '[0-9]{3}-[0-9]{3}-[0-9]{4}')) AS BIGINT) AS n_phones,
        |       md5(regexp_replace(regexp_replace(t,
        |             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
        |             '[0-9]{3}-[0-9]{3}-[0-9]{4}', '[PHONE]', 'g')) AS redacted_md5
        |FROM aug ORDER BY doc_id""".stripMargin,
    // the filter is rebuilt relationally: distinct md5 positions of the
    // reference bigrams packed 63 bits/word (DuckDB's checked << refuses
    // the sign bit), probes re-hash and test both bits
    "t20_bloom_membership" ->
      """WITH tok AS (
        |  SELECT doc_id, lang, source, string_split(lower(text), ' ') AS toks FROM documents),
        |refbg AS (
        |  SELECT DISTINCT unnest(list_transform(range(1, len(toks)),
        |           i -> toks[i] || ' ' || toks[i+1])) AS bg
        |  FROM tok WHERE source IN ('src0', 'src1')),
        |bloom AS (
        |  SELECT pos // 63 AS word, bit_or(1::BIGINT << CAST(pos % 63 AS INT)) AS mask
        |  FROM (
        |    SELECT DISTINCT ('0x' || substr(md5(s.seed::VARCHAR || '#' || bg), 1, 15))::BIGINT % 8192 AS pos
        |    FROM refbg CROSS JOIN range(1, 3) s(seed))
        |  GROUP BY 1),
        |probes AS (
        |  SELECT DISTINCT lang, bg FROM (
        |    SELECT lang, unnest(list_transform(range(1, len(toks)),
        |             i -> toks[i] || ' ' || toks[i+1])) AS bg
        |    FROM tok WHERE source NOT IN ('src0', 'src1'))),
        |ph AS (
        |  SELECT lang, bg,
        |         ('0x' || substr(md5('1#' || bg), 1, 15))::BIGINT % 8192 AS p1,
        |         ('0x' || substr(md5('2#' || bg), 1, 15))::BIGINT % 8192 AS p2
        |  FROM probes),
        |flags AS (
        |  SELECT ph.lang, ph.bg,
        |         CASE WHEN ((coalesce(b1.mask, 0) >> CAST(p1 % 63 AS INT)) & 1) = 1
        |               AND ((coalesce(b2.mask, 0) >> CAST(p2 % 63 AS INT)) & 1) = 1 THEN 1 ELSE 0 END AS flagged,
        |         CASE WHEN r.bg IS NOT NULL THEN 1 ELSE 0 END AS actual
        |  FROM ph
        |  LEFT JOIN bloom b1 ON b1.word = p1 // 63
        |  LEFT JOIN bloom b2 ON b2.word = p2 // 63
        |  LEFT JOIN refbg r ON r.bg = ph.bg)
        |SELECT lang,
        |       CAST(count(*) AS BIGINT) AS n_probes,
        |       CAST(sum(flagged) AS BIGINT) AS n_flagged,
        |       CAST(sum(actual) AS BIGINT) AS n_present,
        |       CAST(sum(CASE WHEN flagged = 1 AND actual = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_false_pos,
        |       CAST(sum(CASE WHEN flagged = 0 AND actual = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_false_neg
        |FROM flags GROUP BY lang ORDER BY lang""".stripMargin,
    "d3_token_overlap" ->
      """WITH tok AS (
        |  SELECT DISTINCT doc_id, unnest(list_distinct(list_filter(string_split(lower(text), ' '), x -> x <> ''))) AS w
        |  FROM documents WHERE doc_id < 60)
        |SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS common
        |FROM tok a JOIN tok b ON a.w = b.w AND a.doc_id < b.doc_id
        |GROUP BY a.doc_id, b.doc_id HAVING count(*) >= 30""".stripMargin,
    "d4_minhash_band" ->
      """WITH tok AS (
        |  SELECT DISTINCT doc_id, unnest(list_distinct(list_filter(string_split(lower(text), ' '), x -> x <> ''))) AS w
        |  FROM documents WHERE doc_id < 100),
        |sig AS (
        |  SELECT doc_id,
        |         min(md5('1#' || w)) AS mh1, min(md5('2#' || w)) AS mh2,
        |         min(md5('3#' || w)) AS mh3, min(md5('4#' || w)) AS mh4
        |  FROM tok GROUP BY doc_id)
        |SELECT a.doc_id AS d1, b.doc_id AS d2
        |FROM sig a JOIN sig b ON a.doc_id < b.doc_id
        | AND ((a.mh1 = b.mh1 AND a.mh2 = b.mh2) OR (a.mh3 = b.mh3 AND a.mh4 = b.mh4))""".stripMargin,
    "d5_minhash_lsh" ->
      // mirrors the md5-parity LSH pipeline exactly: 3-gram shingles of
      // the space-split lowercased text (docs with <3 tokens shingle to
      // [] and are dropped), signature = per-seed min md5('i#'||shingle),
      // band hash = md5 of the '|'-joined signature slice, candidates =
      // distinct same-band collisions. distinct-ness of the shingle set
      // doesn't matter under min(), so the unnest skips list_distinct.
      """WITH tok AS (
        |  SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents),
        |shx AS (
        |  SELECT doc_id,
        |         unnest(list_transform(range(1, len(toks) - 1),
        |                i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh
        |  FROM tok WHERE len(toks) >= 3),
        |sig AS (
        |  SELECT doc_id,
        |         min(md5('1#' || sh)) AS mh1, min(md5('2#' || sh)) AS mh2,
        |         min(md5('3#' || sh)) AS mh3, min(md5('4#' || sh)) AS mh4,
        |         min(md5('5#' || sh)) AS mh5, min(md5('6#' || sh)) AS mh6,
        |         min(md5('7#' || sh)) AS mh7, min(md5('8#' || sh)) AS mh8
        |  FROM shx GROUP BY doc_id),
        |bands AS (
        |  SELECT doc_id, 0 AS band,
        |         md5(mh1 || '|' || mh2 || '|' || mh3 || '|' || mh4) AS bh FROM sig
        |  UNION ALL
        |  SELECT doc_id, 1,
        |         md5(mh5 || '|' || mh6 || '|' || mh7 || '|' || mh8) FROM sig)
        |SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
        |FROM bands a JOIN bands b
        |  ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id""".stripMargin,
    "d9_near_dup_groups" ->
      // the full pipeline: d5's candidate SQL + exact shingle-set Jaccard
      // (two exact ints, one IEEE division) + connected components as a
      // recursive CTE — min reachable id over the symmetrized confirmed
      // edges == the union-find min-of-cluster label the operator emits.
      """WITH RECURSIVE tok AS (
        |  SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents),
        |shs AS (
        |  SELECT doc_id,
        |         list_distinct(list_transform(range(1, len(toks) - 1),
        |           i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh
        |  FROM tok WHERE len(toks) >= 3),
        |shx AS (SELECT doc_id, unnest(sh) AS s FROM shs),
        |sig AS (
        |  SELECT doc_id,
        |         min(md5('1#' || s)) AS mh1, min(md5('2#' || s)) AS mh2,
        |         min(md5('3#' || s)) AS mh3, min(md5('4#' || s)) AS mh4,
        |         min(md5('5#' || s)) AS mh5, min(md5('6#' || s)) AS mh6,
        |         min(md5('7#' || s)) AS mh7, min(md5('8#' || s)) AS mh8
        |  FROM shx GROUP BY doc_id),
        |bands AS (
        |  SELECT doc_id, 0 AS band,
        |         md5(mh1 || '|' || mh2 || '|' || mh3 || '|' || mh4) AS bh FROM sig
        |  UNION ALL
        |  SELECT doc_id, 1,
        |         md5(mh5 || '|' || mh6 || '|' || mh7 || '|' || mh8) FROM sig),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
        |  FROM bands a JOIN bands b
        |    ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id),
        |confirmed AS (
        |  SELECT c.d1, c.d2
        |  FROM cand c
        |  JOIN shs s1 ON s1.doc_id = c.d1
        |  JOIN shs s2 ON s2.doc_id = c.d2
        |  WHERE CAST(len(list_intersect(s1.sh, s2.sh)) AS DOUBLE)
        |        / len(list_distinct(list_concat(s1.sh, s2.sh))) >= 0.8),
        |edges AS (
        |  SELECT d1, d2 FROM confirmed
        |  UNION SELECT d2, d1 FROM confirmed),
        |reach(id, r) AS (
        |  SELECT d1, d1 FROM edges
        |  UNION
        |  SELECT reach.id, e.d2 FROM reach JOIN edges e ON e.d1 = reach.r),
        |comp AS (SELECT id, min(r) AS component FROM reach GROUP BY id)
        |SELECT d.doc_id,
        |       coalesce(c.component, d.doc_id) AS "group",
        |       d.doc_id = coalesce(c.component, d.doc_id) AS is_representative
        |FROM documents d LEFT JOIN comp c ON c.id = d.doc_id""".stripMargin,
    "d16_best_of_group" ->
      // d9's CTE chain + the quality-argmax survivor policy: per
      // component keep max(n_chars), doc_id asc tie-break
      """WITH RECURSIVE tok AS (
        |  SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents),
        |shs AS (
        |  SELECT doc_id,
        |         list_distinct(list_transform(range(1, len(toks) - 1),
        |           i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh
        |  FROM tok WHERE len(toks) >= 3),
        |shx AS (SELECT doc_id, unnest(sh) AS s FROM shs),
        |sig AS (
        |  SELECT doc_id,
        |         min(md5('1#' || s)) AS mh1, min(md5('2#' || s)) AS mh2,
        |         min(md5('3#' || s)) AS mh3, min(md5('4#' || s)) AS mh4,
        |         min(md5('5#' || s)) AS mh5, min(md5('6#' || s)) AS mh6,
        |         min(md5('7#' || s)) AS mh7, min(md5('8#' || s)) AS mh8
        |  FROM shx GROUP BY doc_id),
        |bands AS (
        |  SELECT doc_id, 0 AS band,
        |         md5(mh1 || '|' || mh2 || '|' || mh3 || '|' || mh4) AS bh FROM sig
        |  UNION ALL
        |  SELECT doc_id, 1,
        |         md5(mh5 || '|' || mh6 || '|' || mh7 || '|' || mh8) FROM sig),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
        |  FROM bands a JOIN bands b
        |    ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id),
        |confirmed AS (
        |  SELECT c.d1, c.d2
        |  FROM cand c
        |  JOIN shs s1 ON s1.doc_id = c.d1
        |  JOIN shs s2 ON s2.doc_id = c.d2
        |  WHERE CAST(len(list_intersect(s1.sh, s2.sh)) AS DOUBLE)
        |        / len(list_distinct(list_concat(s1.sh, s2.sh))) >= 0.8),
        |edges AS (
        |  SELECT d1, d2 FROM confirmed
        |  UNION SELECT d2, d1 FROM confirmed),
        |reach(id, r) AS (
        |  SELECT d1, d1 FROM edges
        |  UNION
        |  SELECT reach.id, e.d2 FROM reach JOIN edges e ON e.d1 = reach.r),
        |comp AS (SELECT id, min(r) AS component FROM reach GROUP BY id),
        |grp AS (
        |  SELECT d.doc_id, coalesce(c.component, d.doc_id) AS g, d.n_chars
        |  FROM documents d LEFT JOIN comp c ON c.id = d.doc_id)
        |SELECT g AS "group", doc_id AS kept_doc, n_chars AS kept_chars FROM (
        |  SELECT g, doc_id, n_chars,
        |    row_number() OVER (PARTITION BY g ORDER BY n_chars DESC, doc_id ASC) AS rk
        |  FROM grp)
        |WHERE rk = 1""".stripMargin,
    "d10_dedup_yield" ->
      // d9's pipeline (same CTEs) summarized to the group-size histogram:
      // exact integer counts per component size
      """WITH RECURSIVE tok AS (
        |  SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents),
        |shs AS (
        |  SELECT doc_id,
        |         list_distinct(list_transform(range(1, len(toks) - 1),
        |           i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh
        |  FROM tok WHERE len(toks) >= 3),
        |shx AS (SELECT doc_id, unnest(sh) AS s FROM shs),
        |sig AS (
        |  SELECT doc_id,
        |         min(md5('1#' || s)) AS mh1, min(md5('2#' || s)) AS mh2,
        |         min(md5('3#' || s)) AS mh3, min(md5('4#' || s)) AS mh4,
        |         min(md5('5#' || s)) AS mh5, min(md5('6#' || s)) AS mh6,
        |         min(md5('7#' || s)) AS mh7, min(md5('8#' || s)) AS mh8
        |  FROM shx GROUP BY doc_id),
        |bands AS (
        |  SELECT doc_id, 0 AS band,
        |         md5(mh1 || '|' || mh2 || '|' || mh3 || '|' || mh4) AS bh FROM sig
        |  UNION ALL
        |  SELECT doc_id, 1,
        |         md5(mh5 || '|' || mh6 || '|' || mh7 || '|' || mh8) FROM sig),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
        |  FROM bands a JOIN bands b
        |    ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id),
        |confirmed AS (
        |  SELECT c.d1, c.d2
        |  FROM cand c
        |  JOIN shs s1 ON s1.doc_id = c.d1
        |  JOIN shs s2 ON s2.doc_id = c.d2
        |  WHERE CAST(len(list_intersect(s1.sh, s2.sh)) AS DOUBLE)
        |        / len(list_distinct(list_concat(s1.sh, s2.sh))) >= 0.8),
        |edges AS (
        |  SELECT d1, d2 FROM confirmed
        |  UNION SELECT d2, d1 FROM confirmed),
        |reach(id, r) AS (
        |  SELECT d1, d1 FROM edges
        |  UNION
        |  SELECT reach.id, e.d2 FROM reach JOIN edges e ON e.d1 = reach.r),
        |comp AS (SELECT id, min(r) AS component FROM reach GROUP BY id),
        |sizes AS (
        |  SELECT coalesce(c.component, d.doc_id) AS grp, count(*) AS group_size
        |  FROM documents d LEFT JOIN comp c ON c.id = d.doc_id
        |  GROUP BY 1)
        |SELECT group_size, count(*) AS n_groups,
        |       count(*) * group_size AS n_docs,
        |       count(*) * (group_size - 1) AS n_dropped
        |FROM sizes GROUP BY group_size""".stripMargin,
    "d6_simhash" ->
      // mirrors simhashMd5Parity: distinct tokens, 64-bit md5-derived
      // token hash split as two 32-bit halves (hex chars 1-8 = bits
      // 32-63, chars 9-16 = bits 0-31), +/-1 votes per bit, sig bit =
      // votes strictly positive, packed MSB-first as 16 hex chars
      """WITH tok AS (
        |  SELECT DISTINCT doc_id, unnest(list_distinct(list_filter(string_split(lower(text), ' '), x -> x <> ''))) AS t
        |  FROM documents),
        |h AS (
        |  SELECT doc_id, t,
        |         ('0x' || substr(md5(t), 1, 8))::BIGINT AS hhi,
        |         ('0x' || substr(md5(t), 9, 8))::BIGINT AS hlo
        |  FROM tok),
        |bits AS (
        |  SELECT doc_id, j.j AS j,
        |         CASE WHEN j.j < 32 THEN (hlo >> j.j) & 1
        |              ELSE (hhi >> (j.j - 32)) & 1 END AS bit
        |  FROM h, (SELECT unnest(range(0, 64)) AS j) j),
        |votes AS (
        |  SELECT doc_id, j, SUM(2 * bit - 1) AS v FROM bits GROUP BY doc_id, j),
        |nibbles AS (
        |  SELECT doc_id, 15 - (j // 4) AS n,
        |         SUM(CASE WHEN v > 0 THEN 1 << (j % 4) ELSE 0 END) AS nv
        |  FROM votes GROUP BY doc_id, j // 4)
        |SELECT doc_id,
        |       array_to_string(list_transform(
        |         list_sort(list({'n': n, 'v': nv})),
        |         x -> substr('0123456789abcdef', CAST(x.v AS INT) + 1, 1)), '') AS simhash_hex
        |FROM nibbles GROUP BY doc_id""".stripMargin,
    "d8_jaccard_verify" ->
      """WITH tok AS (
        |  SELECT DISTINCT doc_id, unnest(list_distinct(list_filter(string_split(lower(text), ' '), x -> x <> ''))) AS w
        |  FROM documents WHERE doc_id < 40),
        |cnt AS (SELECT doc_id, count(*) AS n FROM tok GROUP BY doc_id),
        |common AS (
        |  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS c
        |  FROM tok a JOIN tok b ON a.w = b.w AND a.doc_id < b.doc_id
        |  GROUP BY a.doc_id, b.doc_id)
        |SELECT d1, d2, CAST(c AS DOUBLE) / (ca.n + cb.n - c) AS jaccard
        |FROM common JOIN cnt ca ON ca.doc_id = d1 JOIN cnt cb ON cb.doc_id = d2
        |WHERE CAST(c AS DOUBLE) / (ca.n + cb.n - c) >= 0.5""".stripMargin,
    "s1_cosine_topk" ->
      """SELECT rnk, vec_id FROM (
        |  SELECT vec_id,
        |         ROW_NUMBER() OVER (
        |           ORDER BY list_cosine_similarity(embedding,
        |             (SELECT embedding FROM embeddings WHERE vec_id = 0)) DESC, vec_id) AS rnk
        |  FROM embeddings WHERE vec_id <> 0) t
        |WHERE rnk <= 10""".stripMargin,
    "s17_filtered_topk" ->
      """SELECT rnk, vec_id FROM (
        |  SELECT vec_id,
        |         ROW_NUMBER() OVER (
        |           ORDER BY list_cosine_similarity(embedding,
        |             (SELECT embedding FROM embeddings WHERE vec_id = 0)) DESC, vec_id) AS rnk
        |  FROM embeddings WHERE vec_id <> 0 AND label = 3) t
        |WHERE rnk <= 10""".stripMargin,
    "s16_matryoshka_topk" ->
      """WITH q AS (SELECT embedding FROM embeddings WHERE vec_id = 0),
        |cand AS (
        |  SELECT vec_id, embedding
        |  FROM embeddings WHERE vec_id <> 0
        |  ORDER BY list_cosine_similarity(embedding[1:16],
        |            (SELECT embedding[1:16] FROM q)) DESC, vec_id
        |  LIMIT 50)
        |SELECT rnk, vec_id FROM (
        |  SELECT vec_id,
        |         ROW_NUMBER() OVER (
        |           ORDER BY list_cosine_similarity(embedding,
        |             (SELECT embedding FROM q)) DESC, vec_id) AS rnk
        |  FROM cand) t
        |WHERE rnk <= 10""".stripMargin,
    // MMR greedy replayed as a recursive CTE: same 32-candidate pool
    // (rel DESC, id), same literal weights 0.7/0.3, same id tie-break;
    // list_cosine_similarity matches the Scala sequential-fold cosine
    // (the parity every s-family oracle already rides on)
    "s14_mmr_diverse" ->
      """WITH RECURSIVE
        |q AS (SELECT embedding FROM embeddings WHERE vec_id = 0),
        |pool AS (
        |  SELECT vec_id AS id, embedding,
        |         list_cosine_similarity(embedding, (SELECT embedding FROM q)) AS rel
        |  FROM embeddings WHERE vec_id <> 0
        |  ORDER BY rel DESC, vec_id LIMIT 32),
        |pairs AS (
        |  SELECT a.id AS ca, b.id AS cb,
        |         list_cosine_similarity(a.embedding, b.embedding) AS sim
        |  FROM pool a JOIN pool b ON a.id <> b.id),
        |sel AS (
        |  SELECT 1 AS step,
        |         [(SELECT id FROM pool ORDER BY 0.7*rel DESC, id LIMIT 1)] AS picked
        |  UNION ALL
        |  SELECT s.step + 1,
        |         list_append(s.picked, (
        |           SELECT c.id FROM pool c
        |           WHERE NOT list_contains(s.picked, c.id)
        |           ORDER BY 0.7*c.rel - 0.3*(
        |             SELECT MAX(p.sim) FROM pairs p
        |             WHERE p.ca = c.id AND list_contains(s.picked, p.cb)) DESC, c.id
        |           LIMIT 1))
        |  FROM sel s WHERE s.step < 10)
        |SELECT CAST(u.ord AS BIGINT) AS rnk, CAST(u.id AS BIGINT) AS vec_id
        |FROM (SELECT unnest(picked) AS id, generate_subscripts(picked, 1) AS ord
        |      FROM sel WHERE step = 10) u
        |ORDER BY rnk""".stripMargin,
    // md5 ±1 plane family (Similarity.md5SignPlanes): sign from the first
    // hex digit of md5("{seed}#{plane}#{dim}"); the dot product folds
    // left-to-right in doubles on both sides, so buckets match bit-for-bit
    "s2_lsh_topk" ->
      """WITH sigs AS (
        |  SELECT vec_id, embedding,
        |    sum(CASE WHEN dot > 0 THEN 1<<i ELSE 0 END)::BIGINT AS sig
        |  FROM (
        |    SELECT vec_id, embedding, i.i AS i,
        |      list_reduce(list_transform(range(1, len(embedding)+1),
        |        j -> CASE WHEN ('0x'||substr(md5('42#'||i.i::VARCHAR||'#'||(j-1)::VARCHAR),1,1))::INT < 8
        |             THEN CAST(embedding[j] AS DOUBLE) ELSE -CAST(embedding[j] AS DOUBLE) END),
        |        (a,b2) -> a+b2) AS dot
        |    FROM embeddings CROSS JOIN range(0, 4) i(i))
        |  GROUP BY vec_id, embedding),
        |q AS (SELECT sig, embedding FROM sigs WHERE vec_id = 0)
        |SELECT ROW_NUMBER() OVER (ORDER BY cos DESC, vec_id) AS rnk, vec_id FROM (
        |  SELECT c.vec_id AS vec_id,
        |    list_cosine_similarity(c.embedding, (SELECT embedding FROM q)) AS cos
        |  FROM sigs c
        |  WHERE c.vec_id <> 0 AND (c.sig = (SELECT sig FROM q)
        |     OR xor(c.sig, (SELECT sig FROM q)) IN (1, 2, 4, 8))) t
        |ORDER BY rnk LIMIT 10""".stripMargin,
    // s4/s8: the serving pipeline mirrored relationally from the persisted
    // training artifacts (see [[oracleArtifactPath]]). Every float op is a
    // sequential left fold in the Scala kernels, so ordered list_reduce +
    // explicit DOUBLE casts reproduce the doubles bitwise; argmin/argmax/
    // top-k boundaries are then exact, with the kernels' tie-breaks
    // spelled out in the window ORDER BY.
    "s4_ivf_topk" ->
      s"""WITH cent AS (
        |  SELECT list_id, list(val ORDER BY pos) AS cv
        |  FROM read_parquet('${oracleArtifactPath("sf0.01", "s4_centroids")}/*.parquet')
        |  GROUP BY list_id),
        |q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
        |qc AS (
        |  SELECT c.list_id,
        |    list_reduce(list_transform(range(1, len(c.cv)+1),
        |      j -> c.cv[j]::DOUBLE * q.qv[j]::DOUBLE), (a,b) -> a+b) AS d,
        |    list_reduce(list_transform(range(1, len(c.cv)+1),
        |      j -> c.cv[j]::DOUBLE * c.cv[j]::DOUBLE), (a,b) -> a+b) AS na,
        |    list_reduce(list_transform(range(1, len(q.qv)+1),
        |      j -> q.qv[j]::DOUBLE * q.qv[j]::DOUBLE), (a,b) -> a+b) AS nb
        |  FROM cent c, q),
        |probed AS (
        |  SELECT list_id FROM (
        |    SELECT list_id,
        |      CASE WHEN na = 0 OR nb = 0 THEN 0.0 ELSE d / sqrt(na * nb) END AS qcos
        |    FROM qc) t
        |  ORDER BY qcos DESC, list_id ASC LIMIT 3),
        |asgp AS (
        |  SELECT e.vec_id, c.list_id,
        |    list_reduce(list_transform(range(1, len(c.cv)+1),
        |      j -> e.embedding[j]::DOUBLE * c.cv[j]::DOUBLE), (a,b) -> a+b) AS d,
        |    sqrt(list_reduce(list_transform(range(1, len(e.embedding)+1),
        |      j -> e.embedding[j]::DOUBLE * e.embedding[j]::DOUBLE), (a,b) -> a+b)) AS na,
        |    sqrt(list_reduce(list_transform(range(1, len(c.cv)+1),
        |      j -> c.cv[j]::DOUBLE * c.cv[j]::DOUBLE), (a,b) -> a+b)) AS nb
        |  FROM embeddings e CROSS JOIN cent c WHERE e.vec_id <> 0),
        |asg AS (
        |  SELECT vec_id, list_id FROM (
        |    SELECT vec_id, list_id, row_number() OVER (PARTITION BY vec_id
        |      ORDER BY (CASE WHEN na = 0 OR nb = 0 THEN 0.0 ELSE d/(na*nb) END) DESC,
        |               list_id DESC) AS rn
        |    FROM asgp) t WHERE rn = 1),
        |cand AS (
        |  SELECT e.vec_id,
        |    list_reduce(list_transform(range(1, len(e.embedding)+1),
        |      j -> e.embedding[j]::DOUBLE * q.qv[j]::DOUBLE), (a,b) -> a+b) AS d,
        |    sqrt(list_reduce(list_transform(range(1, len(e.embedding)+1),
        |      j -> e.embedding[j]::DOUBLE * e.embedding[j]::DOUBLE), (a,b) -> a+b)) AS na,
        |    sqrt(list_reduce(list_transform(range(1, len(q.qv)+1),
        |      j -> q.qv[j]::DOUBLE * q.qv[j]::DOUBLE), (a,b) -> a+b)) AS nb
        |  FROM embeddings e JOIN asg USING (vec_id) JOIN probed USING (list_id), q)
        |SELECT vec_id FROM (
        |  SELECT vec_id, CASE WHEN na = 0 OR nb = 0 THEN 0.0 ELSE d/(na*nb) END AS cos
        |  FROM cand) t
        |ORDER BY cos DESC, vec_id ASC LIMIT 10""".stripMargin,
    "s12_zipwith_dot" ->
      """WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
        |SELECT e.vec_id,
        |  list_reduce(list_transform(range(1, len(e.embedding)+1),
        |    j -> e.embedding[j]::DOUBLE * q.qv[j]::DOUBLE), (a,b) -> a+b) AS dot
        |FROM embeddings e, q""".stripMargin,
    "s11_cluster_sizes" ->
      s"""WITH cent AS (
        |  SELECT list_id, list(val ORDER BY pos) AS cv
        |  FROM read_parquet('${oracleArtifactPath("sf0.01", "s11_centroids")}/*.parquet')
        |  GROUP BY list_id),
        |asgp AS (
        |  SELECT e.vec_id, c.list_id,
        |    list_reduce(list_transform(range(1, len(c.cv)+1),
        |      j -> e.embedding[j]::DOUBLE * c.cv[j]::DOUBLE), (a,b) -> a+b) AS d,
        |    sqrt(list_reduce(list_transform(range(1, len(e.embedding)+1),
        |      j -> e.embedding[j]::DOUBLE * e.embedding[j]::DOUBLE), (a,b) -> a+b)) AS na,
        |    sqrt(list_reduce(list_transform(range(1, len(c.cv)+1),
        |      j -> c.cv[j]::DOUBLE * c.cv[j]::DOUBLE), (a,b) -> a+b)) AS nb
        |  FROM embeddings e CROSS JOIN cent c),
        |asg AS (
        |  SELECT vec_id, list_id FROM (
        |    SELECT vec_id, list_id, row_number() OVER (PARTITION BY vec_id
        |      ORDER BY (CASE WHEN na = 0 OR nb = 0 THEN 0.0 ELSE d/(na*nb) END) DESC,
        |               list_id DESC) AS rn
        |    FROM asgp) t WHERE rn = 1)
        |SELECT list_id AS cluster_id, count(*) AS n_vecs, MIN(vec_id) AS min_vec_id
        |FROM asg GROUP BY list_id""".stripMargin,
    "s8_pq_topk" ->
      s"""WITH cb AS (
        |  SELECT sub, c, list(val ORDER BY pos) AS cv
        |  FROM read_parquet('${oracleArtifactPath("sf0.01", "s8_codebooks")}/*.parquet')
        |  GROUP BY sub, c),
        |q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
        |lut AS (
        |  SELECT cb.sub, cb.c,
        |    list_reduce(list_transform(range(1, len(cb.cv)+1),
        |      j -> q.qv[cb.sub*4 + j]::DOUBLE * cb.cv[j]::DOUBLE), (a,b) -> a+b) AS lv
        |  FROM cb, q),
        |dist AS (
        |  SELECT e.vec_id, cb.sub, cb.c,
        |    list_reduce(list_transform(range(1, len(cb.cv)+1),
        |      j -> (e.embedding[cb.sub*4 + j]::DOUBLE - cb.cv[j]::DOUBLE)
        |         * (e.embedding[cb.sub*4 + j]::DOUBLE - cb.cv[j]::DOUBLE)),
        |      (a,b) -> a+b) AS d
        |  FROM embeddings e CROSS JOIN cb WHERE e.vec_id <> 0),
        |code AS (
        |  SELECT vec_id, sub, c FROM (
        |    SELECT vec_id, sub, c,
        |      row_number() OVER (PARTITION BY vec_id, sub ORDER BY d ASC, c ASC) AS rn
        |    FROM dist) t WHERE rn = 1),
        |score AS (
        |  SELECT code.vec_id, list_reduce(list(l.lv ORDER BY code.sub), (a,b) -> a+b) AS sc
        |  FROM code JOIN lut l ON l.sub = code.sub AND l.c = code.c
        |  GROUP BY code.vec_id),
        |surv AS (SELECT vec_id FROM score ORDER BY sc DESC, vec_id ASC LIMIT 40),
        |rer AS (
        |  SELECT e.vec_id,
        |    list_reduce(list_transform(range(1, len(e.embedding)+1),
        |      j -> e.embedding[j]::DOUBLE * q.qv[j]::DOUBLE), (a,b) -> a+b) AS d,
        |    sqrt(list_reduce(list_transform(range(1, len(e.embedding)+1),
        |      j -> e.embedding[j]::DOUBLE * e.embedding[j]::DOUBLE), (a,b) -> a+b)) AS na,
        |    sqrt(list_reduce(list_transform(range(1, len(q.qv)+1),
        |      j -> q.qv[j]::DOUBLE * q.qv[j]::DOUBLE), (a,b) -> a+b)) AS nb
        |  FROM embeddings e JOIN surv USING (vec_id), q)
        |SELECT vec_id FROM (
        |  SELECT vec_id, CASE WHEN na = 0 OR nb = 0 THEN 0.0 ELSE d/(na*nb) END AS cos
        |  FROM rer) t
        |ORDER BY cos DESC, vec_id ASC LIMIT 10""".stripMargin,
    "t29_semantic_decontam" ->
      """WITH b AS (SELECT embedding AS bv FROM embeddings WHERE vec_id < 20),
        |p AS (
        |  SELECT e.vec_id,
        |    list_reduce(list_transform(range(1, len(e.embedding)+1),
        |      j -> e.embedding[j]::DOUBLE * b.bv[j]::DOUBLE), (a,b) -> a+b) AS d,
        |    sqrt(list_reduce(list_transform(range(1, len(e.embedding)+1),
        |      j -> e.embedding[j]::DOUBLE * e.embedding[j]::DOUBLE), (a,b) -> a+b)) AS na,
        |    sqrt(list_reduce(list_transform(range(1, len(b.bv)+1),
        |      j -> b.bv[j]::DOUBLE * b.bv[j]::DOUBLE), (a,b) -> a+b)) AS nb
        |  FROM embeddings e CROSS JOIN b WHERE e.vec_id >= 20)
        |SELECT vec_id,
        |       MAX(CASE WHEN na = 0 OR nb = 0 THEN 0.0 ELSE d/(na*nb) END) AS max_benchmark_cosine,
        |       MAX(CASE WHEN na = 0 OR nb = 0 THEN 0.0 ELSE d/(na*nb) END) > 0.35 AS is_contaminated
        |FROM p GROUP BY vec_id""".stripMargin,
    "t28_passage_chunks" ->
      """WITH s AS (
        |  SELECT doc_id, regexp_replace(text, '^[ \t\n\x0b\f\r]+|[ \t\n\x0b\f\r]+$', '', 'g') AS t
        |  FROM documents),
        |tok AS (
        |  SELECT doc_id,
        |         CASE WHEN t = '' THEN []::VARCHAR[]
        |              ELSE string_split_regex(t, '[ \t\n\x0b\f\r]+') END AS toks
        |  FROM s)
        |SELECT doc_id, CAST(g.i AS BIGINT) AS chunk_idx,
        |       CAST(g.i * 24 AS BIGINT) AS token_start,
        |       array_to_string(list_slice(toks, g.i * 24 + 1, g.i * 24 + 32), ' ') AS chunk_text
        |FROM tok CROSS JOIN range(0, 16) g(i)
        |WHERE len(toks) > 0 AND g.i * 24 < len(toks)""".stripMargin,
    // chr(769) = U+0301 combining acute: the augmented suffix arrives
    // DECOMPOSED on both sides; len_nfc = len_raw − 1 proves composition
    // actually ran (Java Normalizer ≡ DuckDB utf8proc on NFC)
    "t30_nfc_normalize" ->
      """SELECT doc_id, md5(nfc_normalize(text || ' e' || chr(769))) AS h,
        |       length(text || ' e' || chr(769)) AS len_raw,
        |       length(nfc_normalize(text || ' e' || chr(769))) AS len_nfc
        |FROM documents WHERE doc_id < 2000""".stripMargin,
    "t27_pack_windows" ->
      """WITH s AS (SELECT doc_id, regexp_replace(text, '^[ \t\n\x0b\f\r]+|[ \t\n\x0b\f\r]+$', '', 'g') AS t FROM documents),
        |tok AS (SELECT doc_id,
        |          CAST(CASE WHEN t = '' THEN 0
        |               ELSE len(string_split_regex(t, '[ \t\n\x0b\f\r]+')) END AS BIGINT) AS n_tokens
        |        FROM s),
        |run AS (SELECT doc_id, n_tokens,
        |          CAST(SUM(n_tokens) OVER (ORDER BY doc_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens AS BIGINT) AS start_offset
        |        FROM tok)
        |SELECT doc_id, n_tokens, start_offset,
        |       start_offset // 2048 AS window_id,
        |       (n_tokens > 0 AND
        |        (start_offset + n_tokens - 1) // 2048 <> start_offset // 2048) AS crosses
        |FROM run""".stripMargin,
    "s13_pq_rotated_topk" ->
      s"""WITH m AS (
        |  SELECT list(val ORDER BY pos) AS mv
        |  FROM read_parquet('${oracleArtifactPath("sf0.01", "s13_rotation")}/*.parquet')),
        |cb AS (
        |  SELECT sub, c, list(val ORDER BY pos) AS cv
        |  FROM read_parquet('${oracleArtifactPath("sf0.01", "s13_codebooks")}/*.parquet')
        |  GROUP BY sub, c),
        |q AS (
        |  SELECT list_transform(range(1, 65), i ->
        |    CAST(list_reduce(list_transform(range(1, 65),
        |      j -> m.mv[(i-1)*64 + j]::DOUBLE * e.embedding[j]::DOUBLE),
        |      (a,b) -> a+b) AS FLOAT)) AS qv
        |  FROM embeddings e, m WHERE e.vec_id = 0),
        |rv AS (
        |  SELECT e.vec_id, list_transform(range(1, 65), i ->
        |    CAST(list_reduce(list_transform(range(1, 65),
        |      j -> m.mv[(i-1)*64 + j]::DOUBLE * e.embedding[j]::DOUBLE),
        |      (a,b) -> a+b) AS FLOAT)) AS emb
        |  FROM embeddings e, m WHERE e.vec_id <> 0),
        |lut AS (
        |  SELECT cb.sub, cb.c,
        |    list_reduce(list_transform(range(1, len(cb.cv)+1),
        |      j -> q.qv[cb.sub*4 + j]::DOUBLE * cb.cv[j]::DOUBLE), (a,b) -> a+b) AS lv
        |  FROM cb, q),
        |dist AS (
        |  SELECT r.vec_id, cb.sub, cb.c,
        |    list_reduce(list_transform(range(1, len(cb.cv)+1),
        |      j -> (r.emb[cb.sub*4 + j]::DOUBLE - cb.cv[j]::DOUBLE)
        |         * (r.emb[cb.sub*4 + j]::DOUBLE - cb.cv[j]::DOUBLE)),
        |      (a,b) -> a+b) AS d
        |  FROM rv r CROSS JOIN cb),
        |code AS (
        |  SELECT vec_id, sub, c FROM (
        |    SELECT vec_id, sub, c,
        |      row_number() OVER (PARTITION BY vec_id, sub ORDER BY d ASC, c ASC) AS rn
        |    FROM dist) t WHERE rn = 1),
        |score AS (
        |  SELECT code.vec_id, list_reduce(list(l.lv ORDER BY code.sub), (a,b) -> a+b) AS sc
        |  FROM code JOIN lut l ON l.sub = code.sub AND l.c = code.c
        |  GROUP BY code.vec_id),
        |surv AS (SELECT vec_id FROM score ORDER BY sc DESC, vec_id ASC LIMIT 40),
        |rer AS (
        |  SELECT r.vec_id,
        |    list_reduce(list_transform(range(1, len(r.emb)+1),
        |      j -> r.emb[j]::DOUBLE * q.qv[j]::DOUBLE), (a,b) -> a+b) AS d,
        |    sqrt(list_reduce(list_transform(range(1, len(r.emb)+1),
        |      j -> r.emb[j]::DOUBLE * r.emb[j]::DOUBLE), (a,b) -> a+b)) AS na,
        |    sqrt(list_reduce(list_transform(range(1, len(q.qv)+1),
        |      j -> q.qv[j]::DOUBLE * q.qv[j]::DOUBLE), (a,b) -> a+b)) AS nb
        |  FROM rv r JOIN surv USING (vec_id), q)
        |SELECT vec_id FROM (
        |  SELECT vec_id, CASE WHEN na = 0 OR nb = 0 THEN 0.0 ELSE d/(na*nb) END AS cos
        |  FROM rer) t
        |ORDER BY cos DESC, vec_id ASC LIMIT 10""".stripMargin,
    "d7_embedding_near_dup" ->
      """WITH sigs AS (
        |  SELECT vec_id, embedding, band,
        |    sum(CASE WHEN dot > 0 THEN 1<<i ELSE 0 END)::BIGINT AS sig
        |  FROM (
        |    SELECT vec_id, embedding, b.band AS band, i.i AS i,
        |      list_reduce(list_transform(range(1, len(embedding)+1),
        |        j -> CASE WHEN ('0x'||substr(md5((42+b.band)::VARCHAR||'#'||i.i::VARCHAR||'#'||(j-1)::VARCHAR),1,1))::INT < 8
        |             THEN CAST(embedding[j] AS DOUBLE) ELSE -CAST(embedding[j] AS DOUBLE) END),
        |        (a,b2) -> a+b2) AS dot
        |    FROM embeddings CROSS JOIN range(0, 2) b(band) CROSS JOIN range(0, 8) i(i))
        |  GROUP BY vec_id, embedding, band)
        |SELECT DISTINCT a.vec_id AS d1, b.vec_id AS d2
        |FROM sigs a JOIN sigs b
        |  ON a.band = b.band AND a.sig = b.sig AND a.vec_id < b.vec_id
        |WHERE list_cosine_similarity(a.embedding, b.embedding) >= 0.35
        |ORDER BY d1, d2""".stripMargin,
    // d7's pair SQL + d9's recursive-CTE components: min reachable id over
    // the symmetrized near-dup edges == the union-find min-of-cluster label
    // DBSCAN mirror: s7's signatures, tau-thresholded neighbor edges,
    // core degrees, RECURSIVE core-core reachability (min-id component),
    // min-component border attachment
    "s23_dbscan" ->
      """WITH RECURSIVE sigs AS (
        |  SELECT vec_id, embedding, band,
        |    sum(CASE WHEN dot > 0 THEN 1<<i ELSE 0 END)::BIGINT AS sig
        |  FROM (
        |    SELECT vec_id, embedding, b.band AS band, i.i AS i,
        |      list_reduce(list_transform(range(1, len(embedding)+1),
        |        j -> CASE WHEN ('0x'||substr(md5((42+b.band)::VARCHAR||'#'||i.i::VARCHAR||'#'||(j-1)::VARCHAR),1,1))::INT < 8
        |             THEN CAST(embedding[j] AS DOUBLE) ELSE -CAST(embedding[j] AS DOUBLE) END),
        |        (a,b2) -> a+b2) AS dot
        |    FROM embeddings CROSS JOIN range(0, 2) b(band) CROSS JOIN range(0, 8) i(i))
        |  GROUP BY vec_id, embedding, band),
        |pairs AS (
        |  SELECT DISTINCT a.vec_id AS d1, b.vec_id AS d2
        |  FROM sigs a JOIN sigs b ON a.band = b.band AND a.sig = b.sig AND a.vec_id < b.vec_id
        |  WHERE list_cosine_similarity(a.embedding, b.embedding) >= 0.25),
        |edges AS (SELECT d1 AS s, d2 AS t FROM pairs UNION SELECT d2, d1 FROM pairs),
        |deg AS (SELECT s, count(*) AS nn FROM edges GROUP BY s),
        |core AS (SELECT s AS id FROM deg WHERE nn + 1 >= 3),
        |ce AS (
        |  SELECT e.s, e.t FROM edges e
        |  JOIN core c1 ON c1.id = e.s JOIN core c2 ON c2.id = e.t),
        |reach(id, r) AS (
        |  SELECT id, id FROM core
        |  UNION
        |  SELECT reach.id, ce.t FROM reach JOIN ce ON ce.s = reach.r),
        |comp AS (SELECT id, min(r) AS component FROM reach GROUP BY id),
        |border AS (
        |  SELECT e.s AS id, min(comp.component) AS component
        |  FROM edges e JOIN core c ON c.id = e.t JOIN comp ON comp.id = e.t
        |  WHERE e.s NOT IN (SELECT id FROM core)
        |  GROUP BY e.s)
        |SELECT em.vec_id,
        |  CASE WHEN comp.id IS NOT NULL THEN 'core'
        |       WHEN border.id IS NOT NULL THEN 'border'
        |       ELSE 'noise' END AS role,
        |  COALESCE(comp.component, border.component) AS cluster
        |FROM embeddings em
        |LEFT JOIN comp ON comp.id = em.vec_id
        |LEFT JOIN border ON border.id = em.vec_id""".stripMargin,
    // SemDeDup mirror: the s23 replay + the d16 survivor window (argmax
    // label per cluster, tie-min id; noise always kept)
    "s24_semantic_survivors" ->
      """WITH RECURSIVE sigs AS (
        |  SELECT vec_id, embedding, band,
        |    sum(CASE WHEN dot > 0 THEN 1<<i ELSE 0 END)::BIGINT AS sig
        |  FROM (
        |    SELECT vec_id, embedding, b.band AS band, i.i AS i,
        |      list_reduce(list_transform(range(1, len(embedding)+1),
        |        j -> CASE WHEN ('0x'||substr(md5((42+b.band)::VARCHAR||'#'||i.i::VARCHAR||'#'||(j-1)::VARCHAR),1,1))::INT < 8
        |             THEN CAST(embedding[j] AS DOUBLE) ELSE -CAST(embedding[j] AS DOUBLE) END),
        |        (a,b2) -> a+b2) AS dot
        |    FROM embeddings CROSS JOIN range(0, 2) b(band) CROSS JOIN range(0, 8) i(i))
        |  GROUP BY vec_id, embedding, band),
        |pairs AS (
        |  SELECT DISTINCT a.vec_id AS d1, b.vec_id AS d2
        |  FROM sigs a JOIN sigs b ON a.band = b.band AND a.sig = b.sig AND a.vec_id < b.vec_id
        |  WHERE list_cosine_similarity(a.embedding, b.embedding) >= 0.25),
        |edges AS (SELECT d1 AS s, d2 AS t FROM pairs UNION SELECT d2, d1 FROM pairs),
        |deg AS (SELECT s, count(*) AS nn FROM edges GROUP BY s),
        |core AS (SELECT s AS id FROM deg WHERE nn + 1 >= 3),
        |ce AS (
        |  SELECT e.s, e.t FROM edges e
        |  JOIN core c1 ON c1.id = e.s JOIN core c2 ON c2.id = e.t),
        |reach(id, r) AS (
        |  SELECT id, id FROM core
        |  UNION
        |  SELECT reach.id, ce.t FROM reach JOIN ce ON ce.s = reach.r),
        |comp AS (SELECT id, min(r) AS component FROM reach GROUP BY id),
        |border AS (
        |  SELECT e.s AS id, min(comp.component) AS component
        |  FROM edges e JOIN core c ON c.id = e.t JOIN comp ON comp.id = e.t
        |  WHERE e.s NOT IN (SELECT id FROM core)
        |  GROUP BY e.s),
        |lab AS (
        |  SELECT em.vec_id,
        |    CASE WHEN comp.id IS NOT NULL THEN 'core'
        |         WHEN border.id IS NOT NULL THEN 'border'
        |         ELSE 'noise' END AS role,
        |    COALESCE(comp.component, border.component) AS cluster,
        |    CAST(em.label AS DOUBLE) AS quality
        |  FROM embeddings em
        |  LEFT JOIN comp ON comp.id = em.vec_id
        |  LEFT JOIN border ON border.id = em.vec_id)
        |SELECT vec_id, role, cluster, quality,
        |  (cluster IS NULL OR ROW_NUMBER() OVER (
        |     PARTITION BY cluster ORDER BY quality DESC, vec_id ASC) = 1) AS kept
        |FROM lab""".stripMargin,
    // kNN-graph mirror: s7's md5-parity signatures, bucket pairs both
    // directions, per-source ROW_NUMBER by (cosine DESC, dst)
    "s22_knn_graph" ->
      """WITH sigs AS (
        |  SELECT vec_id, embedding, band,
        |    sum(CASE WHEN dot > 0 THEN 1<<i ELSE 0 END)::BIGINT AS sig
        |  FROM (
        |    SELECT vec_id, embedding, b.band AS band, i.i AS i,
        |      list_reduce(list_transform(range(1, len(embedding)+1),
        |        j -> CASE WHEN ('0x'||substr(md5((42+b.band)::VARCHAR||'#'||i.i::VARCHAR||'#'||(j-1)::VARCHAR),1,1))::INT < 8
        |             THEN CAST(embedding[j] AS DOUBLE) ELSE -CAST(embedding[j] AS DOUBLE) END),
        |        (a,b2) -> a+b2) AS dot
        |    FROM embeddings CROSS JOIN range(0, 2) b(band) CROSS JOIN range(0, 8) i(i))
        |  GROUP BY vec_id, embedding, band),
        |pairs AS (
        |  SELECT DISTINCT a.vec_id AS d1, b.vec_id AS d2,
        |    list_cosine_similarity(a.embedding, b.embedding) AS cosine
        |  FROM sigs a JOIN sigs b
        |    ON a.band = b.band AND a.sig = b.sig AND a.vec_id < b.vec_id),
        |sym AS (
        |  SELECT d1 AS src, d2 AS dst, cosine FROM pairs
        |  UNION ALL SELECT d2, d1, cosine FROM pairs),
        |r AS (
        |  SELECT src, dst,
        |    ROW_NUMBER() OVER (PARTITION BY src ORDER BY cosine DESC, dst ASC) AS rnk
        |  FROM sym)
        |SELECT src, CAST(rnk AS BIGINT) AS rnk, dst FROM r WHERE rnk <= 5""".stripMargin,
    // graph-ANN serving: s22's graph CTEs + LSH-SEEDED entries (the
    // query's band-bucket mates, derived from the same sigs CTE) + the
    // fixed-hop beam descent unrolled (b0 = ranked seeded entries; c_h =
    // beam ∪ out-neighbors; b_h = top-8 by exact cosine, ties to smaller
    // id; final = top-5 of b3). score excludes vec 0 (the query row) so
    // candidate joins drop it.
    "s25_graph_search" ->
      """WITH sigs AS (
        |  SELECT vec_id, embedding, band,
        |    sum(CASE WHEN dot > 0 THEN 1<<i ELSE 0 END)::BIGINT AS sig
        |  FROM (
        |    SELECT vec_id, embedding, b.band AS band, i.i AS i,
        |      list_reduce(list_transform(range(1, len(embedding)+1),
        |        j -> CASE WHEN ('0x'||substr(md5((42+b.band)::VARCHAR||'#'||i.i::VARCHAR||'#'||(j-1)::VARCHAR),1,1))::INT < 8
        |             THEN CAST(embedding[j] AS DOUBLE) ELSE -CAST(embedding[j] AS DOUBLE) END),
        |        (a,b2) -> a+b2) AS dot
        |    FROM embeddings CROSS JOIN range(0, 2) b(band) CROSS JOIN range(0, 8) i(i))
        |  GROUP BY vec_id, embedding, band),
        |pairs AS (
        |  SELECT DISTINCT a.vec_id AS d1, b.vec_id AS d2,
        |    list_cosine_similarity(a.embedding, b.embedding) AS cosine
        |  FROM sigs a JOIN sigs b
        |    ON a.band = b.band AND a.sig = b.sig AND a.vec_id < b.vec_id),
        |sym AS (
        |  SELECT d1 AS src, d2 AS dst, cosine FROM pairs
        |  UNION ALL SELECT d2, d1, cosine FROM pairs),
        |g AS (
        |  SELECT src, dst FROM (
        |    SELECT src, dst,
        |      ROW_NUMBER() OVER (PARTITION BY src ORDER BY cosine DESC, dst ASC) AS rnk
        |    FROM sym) WHERE rnk <= 5),
        |score AS (
        |  SELECT vec_id, list_cosine_similarity(embedding,
        |    (SELECT embedding FROM embeddings WHERE vec_id = 0)) AS cos
        |  FROM embeddings WHERE vec_id <> 0),
        |entries AS (
        |  SELECT DISTINCT s.vec_id FROM sigs s JOIN sigs q
        |    ON s.band = q.band AND s.sig = q.sig
        |  WHERE q.vec_id = 0 AND s.vec_id <> 0),
        |b0 AS (SELECT entries.vec_id FROM entries JOIN score USING (vec_id)
        |       ORDER BY score.cos DESC, entries.vec_id ASC LIMIT 8),
        |c1 AS (SELECT vec_id FROM b0 UNION SELECT g.dst FROM g JOIN b0 ON g.src = b0.vec_id),
        |b1 AS (SELECT c1.vec_id FROM c1 JOIN score USING (vec_id)
        |       ORDER BY score.cos DESC, c1.vec_id ASC LIMIT 8),
        |c2 AS (SELECT vec_id FROM b1 UNION SELECT g.dst FROM g JOIN b1 ON g.src = b1.vec_id),
        |b2 AS (SELECT c2.vec_id FROM c2 JOIN score USING (vec_id)
        |       ORDER BY score.cos DESC, c2.vec_id ASC LIMIT 8),
        |c3 AS (SELECT vec_id FROM b2 UNION SELECT g.dst FROM g JOIN b2 ON g.src = b2.vec_id),
        |b3 AS (SELECT c3.vec_id FROM c3 JOIN score USING (vec_id)
        |       ORDER BY score.cos DESC, c3.vec_id ASC LIMIT 8)
        |SELECT rnk, vec_id FROM (
        |  SELECT b3.vec_id AS vec_id,
        |    ROW_NUMBER() OVER (ORDER BY score.cos DESC, b3.vec_id ASC) AS rnk
        |  FROM b3 JOIN score USING (vec_id)) t
        |WHERE rnk <= 5""".stripMargin,
    // batched serving: the same descent PARTITIONED BY query — per-query
    // LSH-seeded entries from the sigs CTE, per-query self-exclusion in
    // the score CTE, per-query windows per hop
    "s26_graph_search_batch" ->
      """WITH sigs AS (
        |  SELECT vec_id, embedding, band,
        |    sum(CASE WHEN dot > 0 THEN 1<<i ELSE 0 END)::BIGINT AS sig
        |  FROM (
        |    SELECT vec_id, embedding, b.band AS band, i.i AS i,
        |      list_reduce(list_transform(range(1, len(embedding)+1),
        |        j -> CASE WHEN ('0x'||substr(md5((42+b.band)::VARCHAR||'#'||i.i::VARCHAR||'#'||(j-1)::VARCHAR),1,1))::INT < 8
        |             THEN CAST(embedding[j] AS DOUBLE) ELSE -CAST(embedding[j] AS DOUBLE) END),
        |        (a,b2) -> a+b2) AS dot
        |    FROM embeddings CROSS JOIN range(0, 2) b(band) CROSS JOIN range(0, 8) i(i))
        |  GROUP BY vec_id, embedding, band),
        |pairs AS (
        |  SELECT DISTINCT a.vec_id AS d1, b.vec_id AS d2,
        |    list_cosine_similarity(a.embedding, b.embedding) AS cosine
        |  FROM sigs a JOIN sigs b
        |    ON a.band = b.band AND a.sig = b.sig AND a.vec_id < b.vec_id),
        |sym AS (
        |  SELECT d1 AS src, d2 AS dst, cosine FROM pairs
        |  UNION ALL SELECT d2, d1, cosine FROM pairs),
        |g AS (
        |  SELECT src, dst FROM (
        |    SELECT src, dst,
        |      ROW_NUMBER() OVER (PARTITION BY src ORDER BY cosine DESC, dst ASC) AS rnk
        |    FROM sym) WHERE rnk <= 5),
        |qs AS (SELECT vec_id AS q, embedding AS qe FROM embeddings WHERE vec_id < 4),
        |score AS (
        |  SELECT qs.q, e.vec_id, list_cosine_similarity(e.embedding, qs.qe) AS cos
        |  FROM embeddings e CROSS JOIN qs WHERE e.vec_id <> qs.q),
        |entries AS (
        |  SELECT DISTINCT q.vec_id AS q, s.vec_id AS vec_id FROM sigs s JOIN sigs q
        |    ON s.band = q.band AND s.sig = q.sig
        |  WHERE q.vec_id < 4),
        |b0 AS (
        |  SELECT q, vec_id FROM (
        |    SELECT e.q, e.vec_id, ROW_NUMBER() OVER (PARTITION BY e.q ORDER BY score.cos DESC, e.vec_id ASC) AS r
        |    FROM entries e JOIN score ON score.q = e.q AND score.vec_id = e.vec_id) WHERE r <= 8),
        |c1 AS (SELECT q, vec_id FROM b0 UNION SELECT b0.q, g.dst FROM g JOIN b0 ON g.src = b0.vec_id),
        |b1 AS (
        |  SELECT q, vec_id FROM (
        |    SELECT c1.q, c1.vec_id, ROW_NUMBER() OVER (PARTITION BY c1.q ORDER BY score.cos DESC, c1.vec_id ASC) AS r
        |    FROM c1 JOIN score ON score.q = c1.q AND score.vec_id = c1.vec_id) WHERE r <= 8),
        |c2 AS (SELECT q, vec_id FROM b1 UNION SELECT b1.q, g.dst FROM g JOIN b1 ON g.src = b1.vec_id),
        |b2 AS (
        |  SELECT q, vec_id FROM (
        |    SELECT c2.q, c2.vec_id, ROW_NUMBER() OVER (PARTITION BY c2.q ORDER BY score.cos DESC, c2.vec_id ASC) AS r
        |    FROM c2 JOIN score ON score.q = c2.q AND score.vec_id = c2.vec_id) WHERE r <= 8),
        |c3 AS (SELECT q, vec_id FROM b2 UNION SELECT b2.q, g.dst FROM g JOIN b2 ON g.src = b2.vec_id),
        |b3 AS (
        |  SELECT q, vec_id FROM (
        |    SELECT c3.q, c3.vec_id, ROW_NUMBER() OVER (PARTITION BY c3.q ORDER BY score.cos DESC, c3.vec_id ASC) AS r
        |    FROM c3 JOIN score ON score.q = c3.q AND score.vec_id = c3.vec_id) WHERE r <= 8)
        |SELECT q_id, rnk, vec_id FROM (
        |  SELECT b3.q AS q_id, b3.vec_id AS vec_id,
        |    ROW_NUMBER() OVER (PARTITION BY b3.q ORDER BY score.cos DESC, b3.vec_id ASC) AS rnk
        |  FROM b3 JOIN score ON score.q = b3.q AND score.vec_id = b3.vec_id) t
        |WHERE rnk <= 5""".stripMargin,
    "s7_semantic_dedup" ->
      """WITH RECURSIVE sigs AS (
        |  SELECT vec_id, embedding, band,
        |    sum(CASE WHEN dot > 0 THEN 1<<i ELSE 0 END)::BIGINT AS sig
        |  FROM (
        |    SELECT vec_id, embedding, b.band AS band, i.i AS i,
        |      list_reduce(list_transform(range(1, len(embedding)+1),
        |        j -> CASE WHEN ('0x'||substr(md5((42+b.band)::VARCHAR||'#'||i.i::VARCHAR||'#'||(j-1)::VARCHAR),1,1))::INT < 8
        |             THEN CAST(embedding[j] AS DOUBLE) ELSE -CAST(embedding[j] AS DOUBLE) END),
        |        (a,b2) -> a+b2) AS dot
        |    FROM embeddings CROSS JOIN range(0, 2) b(band) CROSS JOIN range(0, 8) i(i))
        |  GROUP BY vec_id, embedding, band),
        |pairs AS (
        |  SELECT DISTINCT a.vec_id AS d1, b.vec_id AS d2
        |  FROM sigs a JOIN sigs b
        |    ON a.band = b.band AND a.sig = b.sig AND a.vec_id < b.vec_id
        |  WHERE list_cosine_similarity(a.embedding, b.embedding) >= 0.35),
        |edges AS (SELECT d1, d2 FROM pairs UNION SELECT d2, d1 FROM pairs),
        |reach(id, r) AS (
        |  SELECT d1, d1 FROM edges
        |  UNION
        |  SELECT reach.id, e.d2 FROM reach JOIN edges e ON e.d1 = reach.r),
        |comp AS (SELECT id, min(r) AS component FROM reach GROUP BY id)
        |SELECT e.vec_id,
        |       coalesce(c.component, e.vec_id) AS "group",
        |       e.vec_id = coalesce(c.component, e.vec_id) AS is_representative
        |FROM embeddings e LEFT JOIN comp c ON c.id = e.vec_id
        |ORDER BY e.vec_id""".stripMargin,
    // s5's neighbor construction + an integer vote; winner by
    // (votes desc, label asc) — the same total order both engines sort
    "s19_append_equals_rebuild" ->
      s"""SELECT q_id, rnk, vec_id, cosine
         |FROM read_parquet('${oracleArtifactPath("sf0.01", "s19_rebuilt")}/*.parquet')""".stripMargin,
    "s18_knn_predict" ->
      """WITH nb AS (
        |  SELECT q_id, lab FROM (
        |    SELECT q.vec_id AS q_id, c.label AS lab,
        |           ROW_NUMBER() OVER (
        |             PARTITION BY q.vec_id
        |             ORDER BY list_cosine_similarity(c.embedding, q.embedding) DESC,
        |                      c.vec_id) AS rnk
        |    FROM embeddings q JOIN embeddings c
        |      ON q.vec_id < 20 AND c.vec_id <> q.vec_id) t
        |  WHERE rnk <= 10),
        |v AS (SELECT q_id, lab, count(*) AS votes FROM nb GROUP BY 1, 2),
        |win AS (
        |  SELECT q_id, lab, votes,
        |         ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY votes DESC, lab) AS rk
        |  FROM v)
        |SELECT w.q_id, e.label AS label_true, w.lab AS label_pred,
        |       CAST(w.votes AS BIGINT) AS votes
        |FROM win w JOIN embeddings e ON e.vec_id = w.q_id
        |WHERE w.rk = 1""".stripMargin,
    "s5_topk_join" ->
      """SELECT q_id, vec_id, rnk FROM (
        |  SELECT q.vec_id AS q_id, c.vec_id AS vec_id,
        |         ROW_NUMBER() OVER (
        |           PARTITION BY q.vec_id
        |           ORDER BY list_cosine_similarity(c.embedding, q.embedding) DESC,
        |                    c.vec_id) AS rnk
        |  FROM embeddings q JOIN embeddings c
        |    ON q.vec_id < 20 AND c.vec_id <> q.vec_id) t
        |WHERE rnk <= 3""".stripMargin,
    "s3_label_buckets" ->
      """SELECT label, count(*) AS n, MIN(vec_id) AS min_id, MAX(vec_id) AS max_id
        |FROM embeddings GROUP BY label""".stripMargin,
    // same rank construction as s5 with the label-inequality candidate
    // filter; a self-match never appears (it shares its own label)
    "s15_hard_negatives" ->
      """SELECT q_id, vec_id, rnk FROM (
        |  SELECT q.vec_id AS q_id, c.vec_id AS vec_id,
        |         ROW_NUMBER() OVER (
        |           PARTITION BY q.vec_id
        |           ORDER BY list_cosine_similarity(c.embedding, q.embedding) DESC,
        |                    c.vec_id) AS rnk
        |  FROM embeddings q JOIN embeddings c
        |    ON q.vec_id < 5 AND c.label <> q.label) t
        |WHERE rnk <= 3""".stripMargin,
    // mirrors Sq8Util.encodeFloats exactly: ordered-fold norm
    // (list_reduce == the kernel's left-to-right accumulation), then
    // clamp(floor(v/n*127), -127, 127) per element; the integer code dot
    // product is exact in both engines
    "s6_sq8_topk" ->
      """WITH nrm AS (
        |  SELECT vec_id,
        |         sqrt(list_reduce(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE),
        |                          (a, b) -> a + b)) AS nn,
        |         embedding
        |  FROM embeddings),
        |codes AS (
        |  SELECT vec_id, pos,
        |         CASE WHEN nn = 0.0 THEN 0
        |              ELSE CAST(least(127.0, greatest(-127.0,
        |                     floor(v / nn * 127.0))) AS INT) END AS code
        |  FROM (SELECT vec_id, nn, generate_subscripts(embedding,1) AS pos,
        |               unnest(embedding)::DOUBLE AS v
        |        FROM nrm)),
        |q AS (SELECT pos, code FROM codes WHERE vec_id = 0),
        |scores AS (
        |  SELECT c.vec_id, CAST(sum(c.code * q.code) AS BIGINT) AS score
        |  FROM codes c JOIN q USING (pos) WHERE c.vec_id <> 0 GROUP BY c.vec_id)
        |SELECT rnk, vec_id, score FROM (
        |  SELECT vec_id, score,
        |         ROW_NUMBER() OVER (ORDER BY score DESC, vec_id) AS rnk
        |  FROM scores) t
        |WHERE rnk <= 10""".stripMargin,
    "m1_binary_meta" ->
      """SELECT doc_id, octet_length(encode(text)) AS n_bytes,
        |       substr(sha256(text), 1, 16) AS sha16
        |FROM documents""".stripMargin,
    "m3_frame_windows" ->
      """SELECT doc_id, t.i AS frame_idx,
        |       t.i * (octet_length(encode(text)) // 4) + 1 AS offset,
        |       octet_length(encode(text)) // 4 AS frame_bytes
        |FROM documents, generate_series(0, 3) AS t(i)
        |WHERE doc_id < 20""".stripMargin,
    // Rebuild the same deterministic PNG/GIF/JPEG payloads as hex strings,
    // then RE-PARSE them as ImageMetaUtil does (signature + IHDR check,
    // PNG width/height big-endian at bytes 16-23 = hex chars 33-48, GIF
    // logical-screen little-endian at bytes 6-9 = hex chars 13-20, JPEG
    // SOF0 height/width at the canonical layout's offsets, bytes 25-28 =
    // hex chars 51-58) rather than short-circuiting to the generating
    // arithmetic — a detection, walk, or offset bug in the expressions
    // would surface as a mismatch here.
    "m2_image_meta" ->
      """WITH src AS (
        |  SELECT doc_id,
        |         CASE WHEN doc_id % 4 = 0 THEN
        |           '89504E470D0A1A0A' || '0000000D' || '49484452' ||
        |           lpad(hex(100 + doc_id % 100), 8, '0') ||
        |           lpad(hex(50 + doc_id % 100), 8, '0') || '0806000000'
        |         WHEN doc_id % 4 = 1 THEN
        |           '474946383961' ||
        |           lpad(hex((200 + doc_id % 100) % 256), 2, '0') ||
        |           lpad(hex((200 + doc_id % 100) // 256), 2, '0') ||
        |           lpad(hex((120 + doc_id % 100) % 256), 2, '0') ||
        |           lpad(hex((120 + doc_id % 100) // 256), 2, '0') ||
        |           'F70000'
        |         WHEN doc_id % 4 = 2 THEN
        |           'FFD8' || 'FFE00010' || '4A46494600' || '0101' || '00' ||
        |           '00010001' || '0000' || 'FFC00011' || '08' ||
        |           lpad(hex(80 + doc_id % 100), 4, '0') ||
        |           lpad(hex(160 + doc_id % 100), 4, '0') ||
        |           '03' || '011100021101031101'
        |         ELSE hex(encode(text)) END AS h
        |  FROM documents WHERE doc_id < 50),
        |det AS (
        |  SELECT doc_id, h,
        |    (length(h) >= 48 AND substr(h, 1, 16) = '89504E470D0A1A0A'
        |       AND substr(h, 25, 8) = '49484452') AS is_png,
        |    (length(h) >= 20 AND substr(h, 1, 8) = '47494638'
        |       AND substr(h, 9, 2) IN ('37', '39') AND substr(h, 11, 2) = '61') AS is_gif,
        |    (length(h) >= 8 AND substr(h, 1, 4) = 'FFD8') AS is_jpeg
        |  FROM src)
        |SELECT doc_id,
        |  CASE WHEN is_png THEN 'png' WHEN is_gif THEN 'gif'
        |       WHEN is_jpeg THEN 'jpeg' ELSE 'unknown' END AS format,
        |  CASE WHEN is_png THEN ('0x' || substr(h, 33, 8))::BIGINT
        |       WHEN is_gif THEN ('0x' || substr(h, 13, 2))::BIGINT
        |                        + 256 * ('0x' || substr(h, 15, 2))::BIGINT
        |       WHEN is_jpeg THEN ('0x' || substr(h, 55, 4))::BIGINT END AS width,
        |  CASE WHEN is_png THEN ('0x' || substr(h, 41, 8))::BIGINT
        |       WHEN is_gif THEN ('0x' || substr(h, 17, 2))::BIGINT
        |                        + 256 * ('0x' || substr(h, 19, 2))::BIGINT
        |       WHEN is_jpeg THEN ('0x' || substr(h, 51, 4))::BIGINT END AS height
        |FROM det""".stripMargin,
    // WAV mirror of the m2 technique: rebuild the canonical 44-byte PCM
    // header as hex (all multi-byte fields little-endian), detect via
    // RIFF/WAVE magic, extract channels (chars 45-48), sample rate (chars
    // 49-56), byte rate (57-64) and data size (81-88), duration =
    // data*1000//byte_rate. Cross-checked against Python's wave module.
    // cell membership and sums recomputed from the pixel FORMULA — no
    "m11_gif_frames" ->
      """WITH doc AS (SELECT doc_id FROM documents WHERE doc_id < 30),
        |dims AS (
        |  SELECT doc_id,
        |         4 + (doc_id % 3) * 2 AS w,
        |         2 + (doc_id % 2) * 2 AS h,
        |         1 + (doc_id % 3) AS nf
        |  FROM doc),
        |fr AS (
        |  SELECT doc_id, w, h, f.f AS frame_idx
        |  FROM dims CROSS JOIN range(0, 3) f(f) WHERE f.f < nf),
        |px AS (
        |  SELECT doc_id, frame_idx, w, h, i.i AS i
        |  FROM fr CROSS JOIN range(0, 64) i(i) WHERE i.i < w * h)
        |SELECT doc_id,
        |       CAST(frame_idx AS INT) AS frame_idx,
        |       CAST(w AS INT) AS width,
        |       CAST(h AS INT) AS height,
        |       CAST(SUM((doc_id * 7 + frame_idx * 11 + i * 13) % 256) AS BIGINT) AS gray_sum
        |FROM px
        |GROUP BY doc_id, frame_idx, w, h""".stripMargin,
    // PNG in sight; the checksum is order-sensitive so only the exact
    // cell geometry matches
    "m10_jpeg_decode" ->
      """SELECT doc_id,
        |       CAST(4 + doc_id % 5 AS INT) AS width,
        |       CAST(3 + doc_id % 3 AS INT) AS height,
        |       TRUE AS decoded_ok
        |FROM documents WHERE doc_id < 40""".stripMargin,
    "m9_image_resize" ->
      """WITH d AS (
        |  SELECT doc_id,
        |         4 + (doc_id % 3) * 2 AS w,
        |         2 + (doc_id % 2) * 2 AS h
        |  FROM documents WHERE doc_id < 40),
        |px AS (
        |  SELECT doc_id, w, h, r.i,
        |         (doc_id * 7 + r.i * 13) % 256 +
        |         (doc_id * 11 + r.i * 5) % 256 +
        |         (doc_id * 3 + r.i * 17) % 256 AS gray
        |  FROM d CROSS JOIN range(0, 32) r(i) WHERE r.i < w * h),
        |cs AS (
        |  SELECT doc_id, w, h,
        |         ((i // w) // 2) * (w // 2) + ((i % w) // 2) AS c,
        |         sum(gray) AS cell_sum
        |  FROM px GROUP BY 1, 2, 3, 4),
        |agg AS (
        |  SELECT doc_id, w, h,
        |         sum(cell_sum) AS gray_total,
        |         sum(cell_sum * (c + 1)) AS cell_checksum
        |  FROM cs GROUP BY 1, 2, 3)
        |SELECT doc_id, CAST(w AS INT) AS width, CAST(h AS INT) AS height,
        |       CAST(w // 2 AS INT) AS out_w, CAST(h // 2 AS INT) AS out_h,
        |       CAST(gray_total AS BIGINT) AS gray_total,
        |       CAST(cell_checksum AS BIGINT) AS cell_checksum
        |FROM agg""".stripMargin,
    "m8_image_ahash" ->
      """WITH base AS (
        |  SELECT doc_id, (4 + doc_id % 5) * (3 + doc_id % 3) AS n
        |  FROM documents WHERE doc_id < 40),
        |g AS (
        |  SELECT doc_id, n,
        |         list_transform(range(0, n), i ->
        |           (doc_id*7 + i*13) % 256 +
        |           (doc_id*11 + i*5) % 256 +
        |           (doc_id*3 + i*17) % 256) AS gray
        |  FROM base),
        |s AS (SELECT doc_id, n, gray, list_sum(gray) AS total FROM g)
        |SELECT doc_id,
        |       CAST(4 + doc_id % 5 AS INT) AS width,
        |       CAST(3 + doc_id % 3 AS INT) AS height,
        |       CAST(list_sum(list_transform(range(0, n), i ->
        |         CASE WHEN gray[i+1] * n > total
        |              THEN (1::BIGINT << i) ELSE 0::BIGINT END)) AS BIGINT) AS ahash,
        |       CAST(list_sum(list_transform(range(0, n), i ->
        |         CASE WHEN gray[i+1] * n > total THEN 1 ELSE 0 END)) AS BIGINT) AS n_bits
        |FROM s""".stripMargin,
    // image near-dup: both hash families recomputed from the pixel
    // FORMULAS (no PNG in the oracle — a hash match proves the real
    // encode→decode→aHash pipeline), then the same 4×16-bit banded join
    // + exact Hamming verify
    "m12_image_neardup" ->
      """WITH base AS (
        |  SELECT doc_id, (4 + doc_id % 5) AS w, (3 + doc_id % 3) AS h,
        |         (4 + doc_id % 5) * (3 + doc_id % 3) AS n
        |  FROM documents WHERE doc_id < 40),
        |imgs AS (
        |  SELECT doc_id AS id, w, h, n,
        |         list_transform(range(0, n), i ->
        |           (doc_id*7 + i*13) % 256 +
        |           (doc_id*11 + i*5) % 256 +
        |           (doc_id*3 + i*17) % 256) AS gray
        |  FROM base
        |  UNION ALL
        |  SELECT doc_id + 1000 AS id, w, h, n,
        |         list_transform(range(0, n), i ->
        |           (doc_id*7 + i*13 + CASE WHEN i % 3 = 0 THEN 37 ELSE 0 END) % 256 +
        |           (doc_id*11 + i*5) % 256 +
        |           (doc_id*3 + i*17) % 256) AS gray
        |  FROM base),
        |hs AS (
        |  SELECT id, w, h,
        |         CAST(list_sum(list_transform(range(0, n), i ->
        |           CASE WHEN gray[i+1] * n > list_sum(gray)
        |                THEN (1::BIGINT << i) ELSE 0::BIGINT END)) AS BIGINT) AS ahash
        |  FROM imgs),
        |bk AS (
        |  SELECT id, w, h, ahash, b.band AS band,
        |         (ahash >> (b.band * 16)) & 65535 AS slice
        |  FROM hs CROSS JOIN range(0, 4) b(band)),
        |pairs AS (
        |  SELECT DISTINCT a.id AS d1, b.id AS d2,
        |         CAST(bit_count(xor(a.ahash, b.ahash)) AS INT) AS hamming
        |  FROM bk a JOIN bk b
        |    ON a.w = b.w AND a.h = b.h AND a.band = b.band
        |   AND a.slice = b.slice AND a.id < b.id)
        |SELECT d1, d2, hamming FROM pairs WHERE hamming <= 3""".stripMargin,
    "m6_image_decode" ->
      """SELECT doc_id,
        |       CAST(4 + doc_id % 5 AS INT) AS width,
        |       CAST(3 + doc_id % 3 AS INT) AS height,
        |       CAST(list_sum(list_transform(
        |         range(0, (4 + doc_id % 5) * (3 + doc_id % 3)),
        |         i -> (doc_id*7 + i*13) % 256)) AS BIGINT) AS sum_r,
        |       CAST(list_sum(list_transform(
        |         range(0, (4 + doc_id % 5) * (3 + doc_id % 3)),
        |         i -> (doc_id*11 + i*5) % 256)) AS BIGINT) AS sum_g,
        |       CAST(list_sum(list_transform(
        |         range(0, (4 + doc_id % 5) * (3 + doc_id % 3)),
        |         i -> (doc_id*3 + i*17) % 256)) AS BIGINT) AS sum_b
        |FROM documents WHERE doc_id < 40""".stripMargin,
    "m7_audio_decode" ->
      """SELECT doc_id,
        |       CAST(1 AS INT) AS channels,
        |       CAST(16000 AS INT) AS sample_rate,
        |       CAST(50 + (doc_id % 7) * 10 AS BIGINT) AS n_frames,
        |       CAST(list_sum(list_transform(
        |         range(0, 50 + (doc_id % 7) * 10),
        |         i -> (doc_id*7 + i*13) % 2001 - 1000)) AS BIGINT) AS sum_samples
        |FROM documents WHERE doc_id < 40""".stripMargin,
    "m4_audio_meta" ->
      """WITH src AS (
        |  SELECT doc_id,
        |         CASE WHEN doc_id % 2 = 0 THEN
        |           '52494646' ||
        |           lpad(hex((2036 + doc_id * 4) % 256), 2, '0') ||
        |           lpad(hex(((2036 + doc_id * 4) // 256) % 256), 2, '0') ||
        |           lpad(hex(((2036 + doc_id * 4) // 65536) % 256), 2, '0') ||
        |           lpad(hex(((2036 + doc_id * 4) // 16777216) % 256), 2, '0') ||
        |           '57415645' || '666D7420' || '10000000' || '0100' ||
        |           lpad(hex((1 + doc_id % 3) % 256), 2, '0') || '00' ||
        |           lpad(hex((CASE doc_id % 3 WHEN 0 THEN 8000 WHEN 1 THEN 16000 ELSE 44100 END) % 256), 2, '0') ||
        |           lpad(hex(((CASE doc_id % 3 WHEN 0 THEN 8000 WHEN 1 THEN 16000 ELSE 44100 END) // 256) % 256), 2, '0') ||
        |           lpad(hex(((CASE doc_id % 3 WHEN 0 THEN 8000 WHEN 1 THEN 16000 ELSE 44100 END) // 65536) % 256), 2, '0') ||
        |           '00' ||
        |           lpad(hex(((CASE doc_id % 3 WHEN 0 THEN 8000 WHEN 1 THEN 16000 ELSE 44100 END) * (1 + doc_id % 3) * 2) % 256), 2, '0') ||
        |           lpad(hex((((CASE doc_id % 3 WHEN 0 THEN 8000 WHEN 1 THEN 16000 ELSE 44100 END) * (1 + doc_id % 3) * 2) // 256) % 256), 2, '0') ||
        |           lpad(hex((((CASE doc_id % 3 WHEN 0 THEN 8000 WHEN 1 THEN 16000 ELSE 44100 END) * (1 + doc_id % 3) * 2) // 65536) % 256), 2, '0') ||
        |           '00' ||
        |           lpad(hex(((1 + doc_id % 3) * 2) % 256), 2, '0') || '00' ||
        |           '1000' || '64617461' ||
        |           lpad(hex((2000 + doc_id * 4) % 256), 2, '0') ||
        |           lpad(hex(((2000 + doc_id * 4) // 256) % 256), 2, '0') ||
        |           lpad(hex(((2000 + doc_id * 4) // 65536) % 256), 2, '0') ||
        |           lpad(hex(((2000 + doc_id * 4) // 16777216) % 256), 2, '0')
        |         ELSE hex(encode(text)) END AS h
        |  FROM documents WHERE doc_id < 60),
        |det AS (
        |  SELECT doc_id, h,
        |    (length(h) >= 24 AND substr(h, 1, 8) = '52494646'
        |       AND substr(h, 17, 8) = '57415645') AS is_wav
        |  FROM src),
        |ext AS (
        |  SELECT doc_id, is_wav,
        |    CASE WHEN is_wav THEN ('0x' || substr(h, 45, 2))::BIGINT
        |                          + 256 * ('0x' || substr(h, 47, 2))::BIGINT END AS ch,
        |    CASE WHEN is_wav THEN ('0x' || substr(h, 49, 2))::BIGINT
        |                          + 256 * ('0x' || substr(h, 51, 2))::BIGINT
        |                          + 65536 * ('0x' || substr(h, 53, 2))::BIGINT
        |                          + 16777216 * ('0x' || substr(h, 55, 2))::BIGINT END AS rate,
        |    CASE WHEN is_wav THEN ('0x' || substr(h, 57, 2))::BIGINT
        |                          + 256 * ('0x' || substr(h, 59, 2))::BIGINT
        |                          + 65536 * ('0x' || substr(h, 61, 2))::BIGINT
        |                          + 16777216 * ('0x' || substr(h, 63, 2))::BIGINT END AS byte_rate,
        |    CASE WHEN is_wav THEN ('0x' || substr(h, 81, 2))::BIGINT
        |                          + 256 * ('0x' || substr(h, 83, 2))::BIGINT
        |                          + 65536 * ('0x' || substr(h, 85, 2))::BIGINT
        |                          + 16777216 * ('0x' || substr(h, 87, 2))::BIGINT END AS data_size
        |  FROM det)
        |SELECT doc_id,
        |  CASE WHEN is_wav THEN 'wav' ELSE 'unknown' END AS aformat,
        |  ch AS channels, rate AS sample_rate,
        |  CASE WHEN is_wav THEN data_size * 1000 // byte_rate END AS duration_ms
        |FROM ext""".stripMargin,
    // MP4 mirror: rebuild the canonical ftyp+moov(mvhd+trak(tkhd)) tree
    // as hex, detect via the ftyp 4cc at bytes 4-7, extract mvhd
    // timescale/duration (chars 89-104) and the tkhd 16.16 dimensions'
    // integer parts (chars 449-452 / 457-460). Template cross-validated
    // against an independent Python box walker before landing.
    "m5_video_meta" ->
      """WITH src AS (
        |  SELECT doc_id,
        |         CASE WHEN doc_id % 2 = 0 THEN
        |           '00000010' || '66747970' || '69736F6D' || '00000200' ||
        |           '000000D8' || '6D6F6F76' ||
        |           '0000006C' || '6D766864' || repeat('00000000', 3) ||
        |           lpad(hex(CASE doc_id % 3 WHEN 0 THEN 600 WHEN 1 THEN 1000 ELSE 90000 END), 8, '0') ||
        |           lpad(hex((CASE doc_id % 3 WHEN 0 THEN 600 WHEN 1 THEN 1000 ELSE 90000 END) * (5 + doc_id % 20)), 8, '0') ||
        |           '00010000' || '01000000' || repeat('00000000', 2) ||
        |           '00010000' || repeat('00000000', 3) || '00010000' || repeat('00000000', 3) || '40000000' ||
        |           repeat('00000000', 6) || '00000002' ||
        |           '00000064' || '7472616B' ||
        |           '0000005C' || '746B6864' || '00000007' || repeat('00000000', 2) ||
        |           '00000001' || repeat('00000000', 4) || repeat('0000', 4) ||
        |           '00010000' || repeat('00000000', 3) || '00010000' || repeat('00000000', 3) || '40000000' ||
        |           lpad(hex(320 + doc_id % 100), 4, '0') || '0000' ||
        |           lpad(hex(180 + doc_id % 100), 4, '0') || '0000'
        |         ELSE hex(encode(text)) END AS h
        |  FROM documents WHERE doc_id < 60),
        |det AS (
        |  SELECT doc_id, h,
        |    (length(h) >= 24 AND substr(h, 9, 8) = '66747970') AS is_mp4
        |  FROM src)
        |SELECT doc_id,
        |  CASE WHEN is_mp4 THEN 'mp4' ELSE 'unknown' END AS vformat,
        |  CASE WHEN is_mp4 THEN ('0x' || substr(h, 449, 4))::BIGINT END AS width,
        |  CASE WHEN is_mp4 THEN ('0x' || substr(h, 457, 4))::BIGINT END AS height,
        |  CASE WHEN is_mp4 THEN ('0x' || substr(h, 97, 8))::BIGINT * 1000
        |                        // ('0x' || substr(h, 89, 8))::BIGINT END AS duration_ms
        |FROM det""".stripMargin,
    // Salt-invariance law: the salted join + two-phase agg must equal the
    // plain inner join + one-phase agg. Sums through DECIMAL(18,2), count
    // over the value column (mirrors countOf's non-null semantics).
    "t14_skew_agg" ->
      """WITH hot AS (
        |  SELECT event_type, min(user_id) AS first_user
        |  FROM events GROUP BY event_type
        |  QUALIFY row_number() OVER (ORDER BY count(*) DESC, event_type) <= 3)
        |SELECT e.event_type, h.first_user, count(e.value) AS n_events,
        |       CAST(SUM(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
        |       CAST(MAX(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE) AS max_value
        |FROM events e JOIN hot h USING (event_type)
        |GROUP BY e.event_type, h.first_user""".stripMargin,
    // Winnowing mirror: same 3-gram construction as d5 (all occurrences,
    // in order), md5-hex hashes, list_min over each 4-window slice,
    // distinct minima. Validated against a Python winnowing
    // reimplementation before landing (10,095 fingerprints at sf0.01,
    // compression 0.386 ~ 2/(w+1)).
    "t15_winnow_fingerprint" ->
      """WITH tok AS (
        |  SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents),
        |hs AS (
        |  SELECT doc_id,
        |         list_transform(
        |           list_transform(range(1, len(toks) - 1),
        |             i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]),
        |           g -> substr(md5(g), 1, 16)) AS h
        |  FROM tok WHERE len(toks) >= 3)
        |SELECT doc_id,
        |       unnest(list_distinct(list_transform(range(1, len(h) - 2),
        |         i -> list_min(h[i:i+3])))) AS fp
        |FROM hs WHERE len(h) >= 4""".stripMargin,
    // t15's fingerprint construction + DF ceiling + pair join
    "t24_overlap_pairs" ->
      """WITH tok AS (
        |  SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents),
        |hs AS (
        |  SELECT doc_id,
        |         list_transform(
        |           list_transform(range(1, len(toks) - 1),
        |             i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]),
        |           g -> substr(md5(g), 1, 16)) AS h
        |  FROM tok WHERE len(toks) >= 3),
        |fpx AS (
        |  SELECT doc_id,
        |         unnest(list_distinct(list_transform(range(1, len(h) - 2),
        |           i -> list_min(h[i:i+3])))) AS fp
        |  FROM hs WHERE len(h) >= 4),
        |keep AS (
        |  SELECT fp FROM fpx GROUP BY fp HAVING count(*) <= 20)
        |SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS shared_fps
        |FROM fpx a JOIN keep USING (fp) JOIN fpx b USING (fp)
        |WHERE a.doc_id < b.doc_id
        |GROUP BY d1, d2 HAVING count(*) >= 2""".stripMargin,
    // same (md5 hex, id) total order per source in both engines
    "t16_source_cap" ->
      """SELECT doc_id, source, rk FROM (
        |  SELECT doc_id, source,
        |         ROW_NUMBER() OVER (
        |           PARTITION BY source
        |           ORDER BY md5(doc_id::VARCHAR), doc_id) AS rk
        |  FROM documents) t
        |WHERE rk <= 10""".stripMargin,
    // copies = floor(w) + md5-slice extra; frac(2.5)=frac(0.5)=0.5 ->
    // boundary 0x8000, frac 0 -> boundary 0x0000 (empty slice); the
    // bounded cross-join + filter mirrors Spark's explode(sequence)
    "t17_mixture_upsample" ->
      """WITH t AS (
        |  SELECT doc_id, source,
        |         CAST(floor(CASE source WHEN 'src0' THEN 2.5
        |                                WHEN 'src1' THEN 0.5
        |                                WHEN 'src2' THEN 1.0
        |                                ELSE 1.0 END) AS INT) +
        |         CASE WHEN substr(md5(doc_id::VARCHAR), 1, 4) <
        |                   (CASE source WHEN 'src0' THEN '8000'
        |                                WHEN 'src1' THEN '8000'
        |                                WHEN 'src2' THEN '0000'
        |                                ELSE '0000' END)
        |              THEN 1 ELSE 0 END AS n_copies
        |  FROM documents)
        |SELECT doc_id, source, r.rep
        |FROM t CROSS JOIN range(1, 8) r(rep)
        |WHERE r.rep <= n_copies""".stripMargin,
    // same host derivation (lowercase + default-port strip falls out of
    // the CASE construction), same md5 cap ranking
    "d15_host_cap" ->
      """WITH u AS (
        |  SELECT doc_id,
        |         (CASE WHEN doc_id % 2 = 0 THEN 'www.' ELSE 'cdn.' END)
        |         || source || '.example.com' AS host
        |  FROM documents),
        |r AS (
        |  SELECT doc_id, host,
        |         row_number() OVER (
        |           PARTITION BY host ORDER BY md5(doc_id::VARCHAR), doc_id) AS rk
        |  FROM u)
        |SELECT doc_id, host, CAST(rk AS BIGINT) AS rk FROM r WHERE rk <= 5""".stripMargin,
    // min over the row's w salted hashes (the t17 bounded-range trick
    // for the per-row draw count), then the global top-50 by key
    "t46_dist_shift" ->
      """WITH st AS (
        |  SELECT lang,
        |    regexp_replace(text, '^[ \t\n\x0b\f\r]+|[ \t\n\x0b\f\r]+$', '', 'g') AS t
        |  FROM documents),
        |tok AS (
        |  SELECT lang, unnest(string_split_regex(t, '[ \t\n\x0b\f\r]+')) AS token
        |  FROM st WHERE t <> ''),
        |buck AS (
        |  SELECT lang, ('0x' || substr(md5(token), 1, 8))::BIGINT % 64 AS bucket
        |  FROM tok),
        |allb AS (SELECT CAST(t.i AS BIGINT) AS bucket FROM range(0, 64) t(i)),
        |ac AS (SELECT bucket, count(*) AS c FROM buck WHERE lang = 'en' GROUP BY 1),
        |bc AS (SELECT bucket, count(*) AS c FROM buck WHERE lang <> 'en' GROUP BY 1),
        |a AS (SELECT allb.bucket, COALESCE(ac.c, 0) AS cnt_a FROM allb LEFT JOIN ac USING (bucket)),
        |b AS (SELECT allb.bucket, COALESCE(bc.c, 0) AS cnt_b FROM allb LEFT JOIN bc USING (bucket)),
        |na AS (SELECT SUM(cnt_a) + 64 AS v FROM a),
        |nb AS (SELECT SUM(cnt_b) + 64 AS v FROM b),
        |xy AS (
        |  SELECT a.bucket, a.cnt_a, b.cnt_b,
        |         CAST((a.cnt_a + 1) * nb.v AS HUGEINT) AS x,
        |         CAST((b.cnt_b + 1) * na.v AS HUGEINT) AS y,
        |         CAST(na.v AS HUGEINT) * CAST(nb.v AS HUGEINT) AS nn
        |  FROM a JOIN b USING (bucket), na, nb)
        |SELECT bucket, cnt_a, cnt_b,
        |       CAST((x - y) * (x - y) AS DOUBLE) AS num,
        |       CAST(nn * (x + y) AS DOUBLE) AS den,
        |       CAST((x - y) * (x - y) AS DOUBLE) / CAST(nn * (x + y) AS DOUBLE)
        |         AS contrib
        |FROM xy""".stripMargin,
    // KS mirror: distinct-value histogram, cumulative window over it,
    // exact integer cross-products (HUGEINT ≡ Spark Decimal(38,0)), max,
    // one fixed-order double division
    "a28_ks_two_sample" ->
      """WITH base AS (
        |  SELECT CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS v,
        |         CASE WHEN source = 'src0' THEN 1 ELSE 0 END AS ia
        |  FROM documents WHERE source IN ('src0', 'src1')),
        |hist AS (SELECT v, SUM(ia) AS da, COUNT(*) - SUM(ia) AS db
        |         FROM base GROUP BY v),
        |tot AS (SELECT SUM(da) AS na, SUM(db) AS nb FROM hist),
        |cum AS (
        |  SELECT SUM(da) OVER w AS ca, SUM(db) OVER w AS cb
        |  FROM hist
        |  WINDOW w AS (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
        |  CAST(MAX(ABS(CAST(ca AS HUGEINT) * nb - CAST(cb AS HUGEINT) * na)) AS BIGINT) AS d_num,
        |  CAST(MAX(ABS(CAST(ca AS HUGEINT) * nb - CAST(cb AS HUGEINT) * na)) AS DOUBLE)
        |    / (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)) AS d
        |FROM cum, tot GROUP BY na, nb""".stripMargin,
    // Mann-Whitney mirror: same histogram + cumulative window as KS,
    // doubled rank sums stay integer (midrank ties exact), one halving
    "a29_mann_whitney" ->
      """WITH base AS (
        |  SELECT CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS v,
        |         CASE WHEN source = 'src0' THEN 1 ELSE 0 END AS ia
        |  FROM documents WHERE source IN ('src0', 'src1')),
        |hist AS (SELECT v, SUM(ia) AS da, COUNT(*) - SUM(ia) AS db
        |         FROM base GROUP BY v),
        |tot AS (SELECT SUM(da) AS na, SUM(db) AS nb FROM hist),
        |cum AS (
        |  SELECT da, db, SUM(da + db) OVER (ORDER BY v
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c
        |  FROM hist),
        |s AS (SELECT SUM(CAST(da AS HUGEINT) * (2 * (c - da - db) + da + db + 1)) AS t
        |      FROM cum)
        |SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
        |  CAST(t - CAST(na AS HUGEINT) * (na + 1) AS BIGINT) AS u2_a,
        |  CAST(t - CAST(na AS HUGEINT) * (na + 1) AS DOUBLE) / 2.0 AS u_a
        |FROM s, tot""".stripMargin,
    // RRF mirror: two rank-only cosine lists (the s1 construction),
    // full-outer rank merge, 1/(60+r) contributions with DOUBLE-cast
    // literals (DuckDB decimal-literal hazard), left-to-right sum
    "s20_rrf_fusion" ->
      """WITH ra AS (
        |  SELECT vec_id, ROW_NUMBER() OVER (
        |      ORDER BY list_cosine_similarity(embedding,
        |        (SELECT embedding FROM embeddings WHERE vec_id = 0)) DESC, vec_id) AS r
        |  FROM embeddings WHERE vec_id NOT IN (0, 1)
        |  QUALIFY r <= 10),
        |rb AS (
        |  SELECT vec_id, ROW_NUMBER() OVER (
        |      ORDER BY list_cosine_similarity(embedding,
        |        (SELECT embedding FROM embeddings WHERE vec_id = 1)) DESC, vec_id) AS r
        |  FROM embeddings WHERE vec_id NOT IN (0, 1)
        |  QUALIFY r <= 10)
        |SELECT COALESCE(ra.vec_id, rb.vec_id) AS vec_id,
        |       COALESCE(CAST(1 AS DOUBLE) / (60 + ra.r), CAST(0 AS DOUBLE)) +
        |       COALESCE(CAST(1 AS DOUBLE) / (60 + rb.r), CAST(0 AS DOUBLE)) AS rrf
        |FROM ra FULL OUTER JOIN rb ON ra.vec_id = rb.vec_id
        |ORDER BY rrf DESC, vec_id LIMIT 5""".stripMargin,
    // k-means mirror: the g7/g8 unrolled-CTE pattern — 2 Lloyd
    // iterations replayed exactly (same round-half-up quantization,
    // integer argmin with (d2, list_id) ties, floor-divided means via
    // the floorMod subtraction, empty clusters hold via LEFT JOIN)
    "s21_kmeans" ->
      """WITH q AS (
        |  SELECT vec_id,
        |    list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1048576.0) AS BIGINT)) AS qv
        |  FROM embeddings),
        |c0 AS (SELECT CAST(vec_id AS BIGINT) AS list_id, qv AS cv FROM q WHERE vec_id < 4),
        |a1 AS (
        |  SELECT vec_id, list_id, qv FROM (
        |    SELECT q.vec_id, c0.list_id, q.qv,
        |      ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
        |        list_reduce(list_transform(range(1, len(q.qv)+1),
        |          j -> (q.qv[j]-c0.cv[j])*(q.qv[j]-c0.cv[j])), (a,b)->a+b) ASC, c0.list_id ASC) AS rn
        |    FROM q CROSS JOIN c0) t WHERE rn = 1),
        |u1 AS (
        |  SELECT list_id, dim, SUM(val) AS s, COUNT(*) AS n FROM (
        |    SELECT list_id, unnest(range(1, len(qv)+1)) AS dim, unnest(qv) AS val FROM a1)
        |  GROUP BY 1, 2),
        |c0d AS (SELECT list_id, unnest(range(1, len(cv)+1)) AS dim, unnest(cv) AS cval FROM c0),
        |c1d AS (
        |  SELECT c0d.list_id, c0d.dim,
        |    COALESCE(CAST((u1.s - (((u1.s % u1.n) + u1.n) % u1.n)) // u1.n AS BIGINT), c0d.cval) AS cval
        |  FROM c0d LEFT JOIN u1 ON c0d.list_id = u1.list_id AND c0d.dim = u1.dim),
        |c1 AS (SELECT list_id, list(cval ORDER BY dim) AS cv FROM c1d GROUP BY list_id),
        |a2 AS (
        |  SELECT vec_id, list_id, qv FROM (
        |    SELECT q.vec_id, c1.list_id, q.qv,
        |      ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
        |        list_reduce(list_transform(range(1, len(q.qv)+1),
        |          j -> (q.qv[j]-c1.cv[j])*(q.qv[j]-c1.cv[j])), (a,b)->a+b) ASC, c1.list_id ASC) AS rn
        |    FROM q CROSS JOIN c1) t WHERE rn = 1),
        |u2 AS (
        |  SELECT list_id, dim, SUM(val) AS s, COUNT(*) AS n FROM (
        |    SELECT list_id, unnest(range(1, len(qv)+1)) AS dim, unnest(qv) AS val FROM a2)
        |  GROUP BY 1, 2),
        |c2d AS (
        |  SELECT c1d.list_id, c1d.dim,
        |    COALESCE(CAST((u2.s - (((u2.s % u2.n) + u2.n) % u2.n)) // u2.n AS BIGINT), c1d.cval) AS cval
        |  FROM c1d LEFT JOIN u2 ON c1d.list_id = u2.list_id AND c1d.dim = u2.dim),
        |c2 AS (SELECT list_id, list(cval ORDER BY dim) AS cv FROM c2d GROUP BY list_id),
        |a3 AS (
        |  SELECT vec_id, list_id FROM (
        |    SELECT q.vec_id, c2.list_id,
        |      ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
        |        list_reduce(list_transform(range(1, len(q.qv)+1),
        |          j -> (q.qv[j]-c2.cv[j])*(q.qv[j]-c2.cv[j])), (a,b)->a+b) ASC, c2.list_id ASC) AS rn
        |    FROM q CROSS JOIN c2) t WHERE rn = 1),
        |sizes AS (SELECT list_id, COUNT(*) AS n FROM a3 GROUP BY 1)
        |SELECT c2d.list_id, CAST(c2d.dim AS BIGINT) AS dim, c2d.cval AS c,
        |       COALESCE(sizes.n, 0) AS n
        |FROM c2d LEFT JOIN sizes USING (list_id)""".stripMargin,
    // Kendall mirror: joint-cell histogram, O(cells²) cross sweep with
    // pure-comparison classification, HUGEINT products, IEEE sqrt
    "a30_kendall_tau" ->
      """WITH base AS (
        |  SELECT CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS x,
        |         CAST(length(text) AS BIGINT) AS y
        |  FROM documents),
        |cells AS (SELECT x, y, COUNT(*) AS c FROM base GROUP BY 1, 2),
        |tot AS (SELECT SUM(c) AS n FROM cells),
        |t1 AS (SELECT SUM(CAST(t AS HUGEINT) * (t - 1) / 2) AS n1
        |       FROM (SELECT SUM(c) AS t FROM cells GROUP BY x)),
        |t2 AS (SELECT SUM(CAST(t AS HUGEINT) * (t - 1) / 2) AS n2
        |       FROM (SELECT SUM(c) AS t FROM cells GROUP BY y)),
        |sw AS (
        |  SELECT
        |    COALESCE(SUM(CASE WHEN (a.x < b.x AND a.y < b.y) OR (a.x > b.x AND a.y > b.y)
        |      THEN CAST(a.c AS HUGEINT) * b.c END), 0) AS c2,
        |    COALESCE(SUM(CASE WHEN (a.x < b.x AND a.y > b.y) OR (a.x > b.x AND a.y < b.y)
        |      THEN CAST(a.c AS HUGEINT) * b.c END), 0) AS d2
        |  FROM cells a CROSS JOIN cells b)
        |SELECT CAST(n AS BIGINT) AS n,
        |  CAST(c2 / 2 AS BIGINT) AS conc, CAST(d2 / 2 AS BIGINT) AS disc,
        |  CAST(c2 / 2 - d2 / 2 AS DOUBLE) /
        |    (sqrt(CAST(CAST(n AS HUGEINT) * (n - 1) / 2 - n1 AS DOUBLE)) *
        |     sqrt(CAST(CAST(n AS HUGEINT) * (n - 1) / 2 - n2 AS DOUBLE))) AS tau_b
        |FROM sw, tot, t1, t2""".stripMargin,
    // Spearman mirror: doubled midranks from per-column histograms +
    // cumulative windows, exact HUGEINT moment sums, one division
    "a31_spearman_rho" ->
      """WITH base AS (
        |  SELECT CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS x,
        |         CAST(length(text) AS BIGINT) AS y
        |  FROM documents),
        |hx AS (SELECT x, COUNT(*) AS cnt FROM base GROUP BY x),
        |rxm AS (SELECT x, 2 * (SUM(cnt) OVER (ORDER BY x
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - cnt) + cnt + 1 AS r_x
        |        FROM hx),
        |hy AS (SELECT y, COUNT(*) AS cnt FROM base GROUP BY y),
        |rym AS (SELECT y, 2 * (SUM(cnt) OVER (ORDER BY y
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - cnt) + cnt + 1 AS r_y
        |        FROM hy),
        |rk AS (SELECT r_x, r_y FROM base JOIN rxm USING (x) JOIN rym USING (y)),
        |m AS (SELECT COUNT(*) AS n,
        |        SUM(CAST(r_x AS HUGEINT)) AS sx, SUM(CAST(r_y AS HUGEINT)) AS sy,
        |        SUM(CAST(r_x AS HUGEINT) * r_x) AS sxx, SUM(CAST(r_y AS HUGEINT) * r_y) AS syy,
        |        SUM(CAST(r_x AS HUGEINT) * r_y) AS sxy
        |      FROM rk)
        |SELECT CAST(n AS BIGINT) AS n,
        |  CAST(n * sxy - sx * sy AS DOUBLE) AS num,
        |  CAST(n * sxx - sx * sx AS DOUBLE) AS den_x,
        |  CAST(n * syy - sy * sy AS DOUBLE) AS den_y,
        |  CAST(n * sxy - sx * sy AS DOUBLE) /
        |    (sqrt(CAST(n * sxx - sx * sx AS DOUBLE)) *
        |     sqrt(CAST(n * syy - sy * sy AS DOUBLE))) AS rho
        |FROM m""".stripMargin,
    // Aho-Corasick mirror: per-pattern full position scans (overlap
    // semantics preserved), summed — the O(n·k) recount the kernel
    // replaces with one pass
    "t57_substring_blocklist" ->
      """WITH t AS (SELECT doc_id, lower(text) AS t FROM documents),
        |h AS (
        |  SELECT doc_id,
        |    CAST(
        |      len(list_filter(range(1, len(t) - 1), i -> substr(t, i, 3) = 'ata')) +
        |      len(list_filter(range(1, len(t) + 1), i -> substr(t, i, 1) = 'a')) +
        |      len(list_filter(range(1, len(t) - 3), i -> substr(t, i, 5) = 'spark')) +
        |      len(list_filter(range(1, len(t) - 2), i -> substr(t, i, 4) = 'w sc'))
        |    AS BIGINT) AS n_hits
        |  FROM t)
        |SELECT doc_id, n_hits, n_hits > 28 AS flagged FROM h""".stripMargin,
    // kappa mirror: exact integer rational (agree·n − Σ m_a·m_b) /
    // (n² − Σ m_a·m_b), one double division
    "t56_cohen_kappa" ->
      """WITH lab AS (
        |  SELECT CASE WHEN len(string_split(lower(text), ' ')) >= 60
        |              THEN 'long' ELSE 'short' END AS ra,
        |         CASE WHEN length(text) >= 330
        |              THEN 'long' ELSE 'short' END AS rb
        |  FROM documents),
        |st AS (SELECT COUNT(*) AS n,
        |              SUM(CASE WHEN ra = rb THEN 1 ELSE 0 END) AS agree
        |       FROM lab),
        |ma AS (SELECT ra AS k, COUNT(*) AS m FROM lab GROUP BY ra),
        |mb AS (SELECT rb AS k, COUNT(*) AS m FROM lab GROUP BY rb),
        |pe AS (SELECT COALESCE(SUM(CAST(ma.m AS HUGEINT) * mb.m), 0) AS pe_num
        |       FROM ma JOIN mb USING (k))
        |SELECT CAST(n AS BIGINT) AS n, CAST(agree AS BIGINT) AS agree,
        |       CAST(pe_num AS BIGINT) AS pe_num,
        |       CAST(CAST(agree AS HUGEINT) * n - pe_num AS DOUBLE)
        |         / CAST(CAST(n AS HUGEINT) * n - pe_num AS DOUBLE) AS kappa
        |FROM st, pe""".stripMargin,
    "t45_winsorize" ->
      """WITH h AS (SELECT lang, n_chars AS v, count(*) AS cnt
        |           FROM documents GROUP BY 1, 2),
        |c AS (SELECT lang, v, cnt,
        |        SUM(cnt) OVER (PARTITION BY lang ORDER BY v
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |        SUM(cnt) OVER (PARTITION BY lang) AS tot
        |      FROM h),
        |b AS (SELECT lang,
        |        MIN(CASE WHEN cum * 100 >= tot * 10 THEN v END) AS lo,
        |        MIN(CASE WHEN cum * 100 >= tot * 90 THEN v END) AS hi
        |      FROM c GROUP BY 1)
        |SELECT d.lang, count(*) AS n,
        |       CAST(SUM(d.n_chars) AS BIGINT) AS sum_raw,
        |       CAST(SUM(LEAST(GREATEST(d.n_chars, b.lo), b.hi)) AS BIGINT) AS sum_w,
        |       CAST(SUM(CASE WHEN d.n_chars < b.lo THEN 1 ELSE 0 END) AS BIGINT) AS n_low,
        |       CAST(SUM(CASE WHEN d.n_chars > b.hi THEN 1 ELSE 0 END) AS BIGINT) AS n_high
        |FROM documents d JOIN b USING (lang)
        |GROUP BY 1""".stripMargin,
    "t44_weighted_sample" ->
      """WITH wdf AS (
        |  SELECT doc_id,
        |         CAST(greatest(1, least(16, floor(n_chars / 50))) AS BIGINT) AS weight
        |  FROM documents),
        |keys AS (
        |  SELECT doc_id, weight,
        |         min(('0x' || substr(md5(doc_id::VARCHAR || '#' || r.r::VARCHAR), 1, 15))::BIGINT) AS wkey
        |  FROM wdf CROSS JOIN range(1, 17) r(r)
        |  WHERE r.r <= weight
        |  GROUP BY doc_id, weight)
        |SELECT doc_id, weight, wkey FROM keys ORDER BY wkey, doc_id LIMIT 50""".stripMargin,
    // identical envelope construction, then the identical strip chain:
    // script/style drop, tags to spaces, the six entities (&amp; last),
    // whitespace collapse — RE2 with explicit 'g', same char classes
    "t43_html_strip" ->
      """WITH h AS (
        |  SELECT doc_id,
        |         '<html><head><title>Doc ' || doc_id::VARCHAR ||
        |         '</title><style type="text/css">p{margin:0}</style></head><body>' || chr(10) ||
        |         '<h1 class="hd">' || source || ' &amp; friends</h1>' || chr(10) ||
        |         '<p id=''p1''>' || text ||
        |         '</p><p>1 &lt; 2 &gt; 0&nbsp;&quot;q&#39;s&quot;</p>' || chr(10) ||
        |         '<script>var x = "<p>";</script></body></html>' AS html
        |  FROM documents),
        |s1 AS (SELECT doc_id,
        |         regexp_replace(html, '(?is)<(script|style)[^>]*>.*?</(script|style)>', ' ', 'g') AS t
        |       FROM h),
        |s2 AS (SELECT doc_id, regexp_replace(t, '(?s)<[^>]*>', ' ', 'g') AS t FROM s1),
        |s3 AS (SELECT doc_id,
        |         replace(replace(replace(replace(replace(replace(t,
        |           '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
        |           '&#39;', ''''), '&nbsp;', ' '), '&amp;', '&') AS t
        |       FROM s2)
        |SELECT doc_id,
        |       trim(regexp_replace(t, '[ \t\n\x0B\f\r]+', ' ', 'g')) AS stripped,
        |       CAST(length(trim(regexp_replace(t, '[ \t\n\x0B\f\r]+', ' ', 'g'))) AS BIGINT) AS n_stripped
        |FROM s3""".stripMargin,
    // same synthesized messy URL, same canonicalization regexes under
    // RE2 ('g' flag spelled out — Spark's regexp_replace is global by
    // default, DuckDB's is not)
    "t42_url_normalize" ->
      """WITH u0 AS (
        |  SELECT doc_id,
        |         (CASE WHEN doc_id % 2 = 0 THEN 'HTTP://WWW.' ELSE 'https://cdn.' END)
        |         || source || '.Example.COM'
        |         || (CASE WHEN doc_id % 2 = 0 THEN ':80' ELSE ':443' END)
        |         || '/Docs//' || lang || '/p' || doc_id::VARCHAR
        |         || (CASE WHEN doc_id % 3 = 0 THEN '/' ELSE '' END)
        |         || '?utm_source=feed&id=' || doc_id::VARCHAR || '&utm_campaign=c1'
        |         || (CASE WHEN doc_id % 5 = 0 THEN '&gclid=XYZ' ELSE '' END)
        |         || '#Section-2' AS url
        |  FROM documents),
        |p AS (
        |  SELECT doc_id, url,
        |         lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS s,
        |         lower(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)) AS hp,
        |         regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^#]*)', 1) AS rest
        |  FROM u0),
        |q AS (
        |  SELECT doc_id, url, s, rest,
        |         CASE WHEN s = 'http' THEN regexp_replace(hp, ':80$', '')
        |              WHEN s = 'https' THEN regexp_replace(hp, ':443$', '')
        |              ELSE hp END AS host,
        |         regexp_replace(regexp_replace(regexp_extract(rest, '^([^?]*)', 1),
        |                                       '/{2,}', '/', 'g'),
        |                        '/$', '') AS cpath,
        |         regexp_extract(rest, '[?](.*)$', 1) AS qs
        |  FROM p),
        |c AS (
        |  SELECT doc_id, url, s, host, cpath,
        |         CASE WHEN qs = '' THEN ''
        |              ELSE regexp_replace(regexp_replace('&' || qs,
        |                     '&(utm_[A-Za-z0-9_]*|gclid|fbclid)=[^&]*', '', 'g'),
        |                     '^&', '') END AS cq
        |  FROM q)
        |SELECT doc_id, url,
        |       CASE WHEN s = '' THEN ''
        |            ELSE s || '://' || host || cpath ||
        |                 (CASE WHEN cq = '' THEN '' ELSE '?' || cq END) END AS canonical,
        |       host
        |FROM c""".stripMargin,
    // the per-char GROUP BY mirror of the single-pass CharStats kernel:
    // string_split(text,'') is codepoint-aware in DuckDB, matching the
    "t47_bm25" ->
      """WITH pd AS (
        |  SELECT doc_id,
        |         CAST(len(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')) AS DOUBLE) AS l,
        |         CAST(len(list_filter(regexp_split_to_array(text, '\s+'), x -> x = 'spark')) AS BIGINT) AS tf0,
        |         CAST(len(list_filter(regexp_split_to_array(text, '\s+'), x -> x = 'join')) AS BIGINT) AS tf1,
        |         CAST(len(list_filter(regexp_split_to_array(text, '\s+'), x -> x = 'customer')) AS BIGINT) AS tf2
        |  FROM documents),
        |st AS (
        |  SELECT CAST(COUNT(*) AS DOUBLE) AS n, AVG(l) AS avglen,
        |         CAST(SUM(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df0,
        |         CAST(SUM(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df1,
        |         CAST(SUM(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df2
        |  FROM pd),
        |sc AS (
        |  SELECT doc_id, tf0, tf1, tf2,
        |         ln(1 + (n - df0 + 0.5) / (df0 + 0.5)) * tf0 * 2.2 / (tf0 + 1.2 * (1 - 0.75 + 0.75 * l / avglen)) +
        |         ln(1 + (n - df1 + 0.5) / (df1 + 0.5)) * tf1 * 2.2 / (tf1 + 1.2 * (1 - 0.75 + 0.75 * l / avglen)) +
        |         ln(1 + (n - df2 + 0.5) / (df2 + 0.5)) * tf2 * 2.2 / (tf2 + 1.2 * (1 - 0.75 + 0.75 * l / avglen)) AS score
        |  FROM pd, st
        |  WHERE tf0 > 0 OR tf1 > 0 OR tf2 > 0)
        |SELECT CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_id ASC) AS BIGINT) AS rnk,
        |       doc_id, tf0 AS tf_0, tf1 AS tf_1, tf2 AS tf_2
        |FROM sc
        |ORDER BY score DESC, doc_id ASC
        |LIMIT 20""".stripMargin,
    "t53_vocab_stats" ->
      """WITH tok AS (
        |  SELECT source, doc_id, unnest(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')) AS t
        |  FROM documents)
        |SELECT source,
        |       CAST(COUNT(*) AS BIGINT) AS n_tokens,
        |       CAST(COUNT(DISTINCT t) AS BIGINT) AS n_vocab,
        |       CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
        |FROM tok GROUP BY source""".stripMargin,
    "t52_pmi_pairs" ->
      """WITH d AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ts
        |  FROM documents),
        |tok AS (
        |  SELECT doc_id, unnest(ts) AS t, generate_subscripts(ts, 1) AS i FROM d),
        |pr AS (
        |  SELECT a.t AS l, b.t AS r
        |  FROM tok a JOIN tok b ON a.doc_id = b.doc_id AND b.i = a.i + 1),
        |pc AS (SELECT l, r, CAST(COUNT(*) AS BIGINT) AS n_pair FROM pr GROUP BY 1, 2),
        |uni AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS n_tok FROM tok GROUP BY 1),
        |tot AS (SELECT CAST(SUM(n_tok) AS BIGINT) AS nt FROM uni),
        |tp AS (SELECT CAST(SUM(n_pair) AS BIGINT) AS np FROM pc)
        |SELECT pc.l AS "left", pc.r AS "right", n_pair,
        |       ul.n_tok AS n_left, ur.n_tok AS n_right,
        |       CAST(n_pair * nt * nt AS BIGINT) AS pmi_num,
        |       CAST(np * ul.n_tok * ur.n_tok AS BIGINT) AS pmi_den,
        |       CAST(n_pair * nt * nt AS DOUBLE) / CAST(np * ul.n_tok * ur.n_tok AS DOUBLE) AS pmi_ratio
        |FROM pc
        |JOIN uni ul ON pc.l = ul.t
        |JOIN uni ur ON pc.r = ur.t, tot, tp
        |WHERE n_pair >= 5
        |ORDER BY pmi_ratio DESC, "left" ASC, "right" ASC
        |LIMIT 20""".stripMargin,
    "t51_bpe_apply" ->
      """WITH src AS (
        |  SELECT doc_id,
        |         'a' || (doc_id % 5)::VARCHAR || ' w1 w2 w3 b' || (doc_id % 3)::VARCHAR ||
        |         ' w1 w2 x' || (doc_id % 7)::VARCHAR AS t
        |  FROM documents),
        |enc AS (
        |  SELECT doc_id,
        |         replace(replace(t, 'w1 w2', 'w1▁w2'), 'w1▁w2 w3', 'w1▁w2▁w3') AS text_bpe
        |  FROM src)
        |SELECT doc_id, text_bpe,
        |       CAST(len(string_split(text_bpe, ' ')) AS BIGINT) AS n_tokens
        |FROM enc""".stripMargin,
    "d17_sorted_neighborhood" ->
      """WITH b AS (
        |  SELECT doc_id, substr(text, 1, 8) AS k, substr(text, 1, 1) AS blk
        |  FROM documents),
        |r AS (
        |  SELECT doc_id, blk,
        |         ROW_NUMBER() OVER (PARTITION BY blk ORDER BY k ASC, doc_id ASC) AS rn
        |  FROM b)
        |SELECT a.doc_id AS d1, c.doc_id AS d2
        |FROM r a JOIN r c ON a.blk = c.blk AND c.rn - a.rn BETWEEN 1 AND 3""".stripMargin,
    "t50_run_dedup" ->
      """WITH d AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(text || ' rep rep rep tail', '\s+'), x -> x <> '') AS ts
        |  FROM documents),
        |tok AS (
        |  SELECT doc_id, unnest(ts) AS t, generate_subscripts(ts, 1) AS i FROM d),
        |k AS (
        |  SELECT doc_id, t, i, lag(t) OVER (PARTITION BY doc_id ORDER BY i) AS pt
        |  FROM tok)
        |SELECT doc_id,
        |       string_agg(t, ' ' ORDER BY i) FILTER (WHERE pt IS NULL OR t <> pt) AS text_dedup,
        |       CAST(COALESCE(SUM(CASE WHEN pt = t THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_removed
        |FROM k
        |GROUP BY doc_id""".stripMargin,
    "t49_domain_stats" ->
      """WITH u AS (
        |  SELECT doc_id,
        |         'sub' || (doc_id % 7)::VARCHAR || '.site' || (doc_id % 13)::VARCHAR || '.com' AS host
        |  FROM documents WHERE doc_id % 3 <> 0)
        |SELECT 'site' || (doc_id % 13)::VARCHAR || '.com' AS domain,
        |       CAST(COUNT(*) AS BIGINT) AS n_docs,
        |       CAST(COUNT(DISTINCT host) AS BIGINT) AS n_hosts
        |FROM u
        |GROUP BY 1""".stripMargin,
    "t48_blocklist" ->
      """WITH h AS (
        |  SELECT doc_id,
        |         CAST(len(list_filter(regexp_split_to_array(text, '\s+'), x -> x = 'slow')) AS BIGINT) AS hits_0,
        |         CAST(len(list_filter(regexp_split_to_array(text, '\s+'), x -> x = 'hash')) AS BIGINT) AS hits_1,
        |         CAST(len(list_filter(regexp_split_to_array(text, '\s+'), x -> x = 'spark')) AS BIGINT) AS hits_2,
        |         CAST(len(list_filter(regexp_split_to_array(text, '\s+'), x -> x = 'window')) AS BIGINT) AS hits_3
        |  FROM documents)
        |SELECT doc_id, hits_0, hits_1, hits_2, hits_3,
        |       hits_0 + hits_1 + hits_2 + hits_3 AS total_hits,
        |       (hits_0 + hits_1 + hits_2 + hits_3) > 2 AS flagged
        |FROM h""".stripMargin,
    // kernel's codePointAt walk; integer numerators, one division each
    "t41_char_diversity" ->
      """WITH ch AS (
        |  SELECT doc_id, u.c
        |  FROM documents d, unnest(string_split(d.text, '')) u(c)
        |  WHERE length(d.text) > 0),
        |cnt AS (SELECT doc_id, c, count(*) AS k FROM ch GROUP BY 1, 2),
        |agg AS (SELECT doc_id, CAST(sum(k) AS BIGINT) AS n_cp,
        |               CAST(count(*) AS BIGINT) AS n_distinct,
        |               CAST(max(k) AS BIGINT) AS top_cnt,
        |               CAST(sum(k * (k - 1)) AS BIGINT) AS coll
        |        FROM cnt GROUP BY 1)
        |SELECT doc_id, n_cp, n_distinct, top_cnt,
        |       CAST(top_cnt AS DOUBLE) / CAST(n_cp AS DOUBLE) AS top_frac,
        |       CASE WHEN n_cp > 1
        |            THEN CAST(coll AS DOUBLE) / CAST(n_cp * (n_cp - 1) AS DOUBLE)
        |       END AS simpson
        |FROM agg""".stripMargin,
    // α=0.5 keep rate sqrt(cmin/c): IEEE div + IEEE sqrt, both correctly
    // rounded — then the 16-bit boundary replays boundaryHex (round to
    // 65536 buckets; a full-rate stratum gets 'g', which sorts after all
    // hex, matching the Spark side's all-inclusive threshold)
    "t40_alpha_mixture" ->
      """WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
        |m AS (SELECT min(n) AS cmin FROM c),
        |r AS (SELECT lang, sqrt(CAST(cmin AS DOUBLE) / CAST(n AS DOUBLE)) AS keep_rate
        |      FROM c, m),
        |bd AS (SELECT lang, keep_rate,
        |              CASE WHEN CAST(round(keep_rate * 65536) AS BIGINT) >= 65536
        |                   THEN 'g'
        |                   ELSE lpad(lower(to_hex(CAST(round(keep_rate * 65536) AS BIGINT))), 4, '0')
        |              END AS bound
        |       FROM r)
        |SELECT d.doc_id, d.lang, bd.keep_rate
        |FROM documents d JOIN bd USING (lang)
        |WHERE substr(md5(d.doc_id::VARCHAR), 1, 4) < bound""".stripMargin,
    // rebuild the 10-token chunking (generate_series + list_slice), replay
    // the globally-first-occurrence rule (window row_number ordered by
    // (doc, idx) — equals Spark's min-struct over the hash group), and
    // reassemble survivors with an ordered string_agg
    // d11's construction with the first-occurrence window scoped PER
    // DOCUMENT (partition by doc_id, chunk) and 2-token chunks
    "t34_selfchunk_dedup" ->
      """WITH s AS (
        |  SELECT doc_id, regexp_replace(text, '^[ \t\n\x0b\f\r]+|[ \t\n\x0b\f\r]+$', '', 'g') AS t
        |  FROM documents),
        |tok AS (
        |  SELECT doc_id,
        |         CASE WHEN t = '' THEN []::VARCHAR[]
        |              ELSE string_split_regex(t, '[ \t\n\x0b\f\r]+') END AS toks
        |  FROM s),
        |ch AS (
        |  SELECT doc_id, g.i AS chunk_idx,
        |         array_to_string(list_slice(toks, g.i * 2 + 1, g.i * 2 + 2), ' ') AS chunk
        |  FROM tok CROSS JOIN range(0, 320) g(i)
        |  WHERE g.i < (len(toks) + 1) // 2),
        |rk AS (
        |  SELECT doc_id, chunk_idx, chunk,
        |         row_number() OVER (PARTITION BY doc_id, chunk ORDER BY chunk_idx) AS rn
        |  FROM ch)
        |SELECT doc_id,
        |       count(*) AS n_chunks,
        |       CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |       CASE WHEN sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) > 0
        |            THEN string_agg(CASE WHEN rn = 1 THEN chunk END, ' ' ORDER BY chunk_idx)
        |       END AS text_dedup
        |FROM rk GROUP BY doc_id""".stripMargin,
    "t36_bpe_pairs" ->
      """WITH tok AS (
        |  SELECT list_filter(string_split(text, ' '), x -> x <> '') AS l
        |  FROM documents),
        |p AS (
        |  SELECT unnest(list_transform(range(1, len(l)),
        |           i -> {lft: l[i], rgt: l[i + 1]})) AS pr
        |  FROM tok WHERE len(l) >= 2)
        |SELECT pr.lft AS "left", pr.rgt AS "right", count(*) AS n
        |FROM p GROUP BY 1, 2
        |ORDER BY n DESC, 1, 2 LIMIT 20""".stripMargin,
    "t37_fuzzy_pairs" ->
      // the brute-force quadratic the deletion-neighborhood rewrite
      // replaces — hash equality proves the rewrite COMPLETE, not just
      // sound
      """WITH v AS (
        |  SELECT DISTINCT 'w' || CAST(event_id % 500 AS VARCHAR) AS w
        |  FROM events)
        |SELECT a.w AS w1, b.w AS w2
        |FROM v a JOIN v b ON a.w < b.w AND levenshtein(a.w, b.w) <= 1""".stripMargin,
    // flesch literals CAST to DOUBLE: DuckDB parses bare decimals as
    // DECIMAL and its exact arithmetic would diverge from Scala's
    // binary-double chain in the last ulps
    "t38_readability" ->
      """WITH s AS (
        |  SELECT doc_id, text,
        |         regexp_replace(text, '^[ \t\n\x0b\f\r]+|[ \t\n\x0b\f\r]+$', '', 'g') AS t
        |  FROM documents),
        |c AS (
        |  SELECT doc_id,
        |         CASE WHEN t = '' THEN 0
        |              ELSE len(string_split_regex(t, '[ \t\n\x0b\f\r]+')) END AS n_words,
        |         length(text) - length(regexp_replace(text, '[.!?]', '', 'g')) AS n_sentences,
        |         length(regexp_replace(lower(text), '[aeiouy]+', 'V', 'g')) -
        |         length(regexp_replace(lower(text), '[aeiouy]+', '', 'g')) AS n_syllables
        |  FROM s)
        |SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
        |       CAST(n_sentences AS BIGINT) AS n_sentences,
        |       CAST(n_syllables AS BIGINT) AS n_syllables,
        |       CAST(206.835 AS DOUBLE)
        |         - CAST(1.015 AS DOUBLE) *
        |           (CAST(greatest(n_words, 1) AS DOUBLE) / CAST(greatest(n_sentences, 1) AS DOUBLE))
        |         - CAST(84.6 AS DOUBLE) *
        |           (CAST(n_syllables AS DOUBLE) / CAST(greatest(n_words, 1) AS DOUBLE)) AS flesch
        |FROM c""".stripMargin,
    "t39_containment_pairs" ->
      """WITH tok AS (
        |  SELECT DISTINCT doc_id, unnest(list_distinct(list_filter(string_split(lower(text), ' '), x -> x <> ''))) AS w
        |  FROM documents WHERE doc_id < 40),
        |cnt AS (SELECT doc_id, count(*) AS n FROM tok GROUP BY doc_id),
        |common AS (
        |  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS c
        |  FROM tok a JOIN tok b ON a.w = b.w AND a.doc_id < b.doc_id
        |  GROUP BY a.doc_id, b.doc_id)
        |SELECT d1, d2, CAST(c AS BIGINT) AS common,
        |       CAST(ca.n AS BIGINT) AS n1, CAST(cb.n AS BIGINT) AS n2,
        |       CAST(c AS DOUBLE) / CAST(ca.n AS DOUBLE) AS c_1in2,
        |       CAST(c AS DOUBLE) / CAST(cb.n AS DOUBLE) AS c_2in1
        |FROM common JOIN cnt ca ON ca.doc_id = d1 JOIN cnt cb ON cb.doc_id = d2
        |WHERE greatest(CAST(c AS DOUBLE) / CAST(ca.n AS DOUBLE),
        |               CAST(c AS DOUBLE) / CAST(cb.n AS DOUBLE)) >= 0.6""".stripMargin,
    "t35_cdc_dedup" ->
      """WITH tok AS (
        |  SELECT doc_id, pos, w FROM (
        |    SELECT doc_id, generate_subscripts(l, 1) AS pos, unnest(l) AS w
        |    FROM (SELECT doc_id, string_split(text, ' ') AS l FROM documents) t0) t1
        |  WHERE w <> ''),
        |cb AS (
        |  SELECT doc_id, pos, w,
        |         COALESCE(SUM(CASE WHEN substr(md5(w), 1, 1) = '0' THEN 1 ELSE 0 END)
        |           OVER (PARTITION BY doc_id ORDER BY pos
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cid
        |  FROM tok),
        |ch AS (
        |  SELECT doc_id, cid AS chunk_idx, string_agg(w, ' ' ORDER BY pos) AS chunk
        |  FROM cb GROUP BY doc_id, cid),
        |rk AS (
        |  SELECT doc_id, chunk_idx, chunk,
        |         row_number() OVER (PARTITION BY chunk ORDER BY doc_id, chunk_idx) AS rn
        |  FROM ch)
        |SELECT doc_id,
        |       count(*) AS n_chunks,
        |       CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |       CASE WHEN sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) > 0
        |            THEN string_agg(CASE WHEN rn = 1 THEN chunk END, ' ' ORDER BY chunk_idx)
        |       END AS text_dedup
        |FROM rk GROUP BY doc_id""".stripMargin,
    // r14 shares a18's oracle verbatim: the streaming drain must equal
    // the batch sketch exactly (order-independent bottom-k)
    "r14_stream_quantiles" ->
      """WITH rk AS (
        |  SELECT event_type, value,
        |         row_number() OVER (PARTITION BY event_type
        |           ORDER BY ('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 15))::BIGINT) AS rn
        |  FROM events),
        |g AS (
        |  SELECT event_type, list_sort(list(value)) AS vals,
        |         CAST(count(*) AS BIGINT) AS n_sample
        |  FROM rk WHERE rn <= 256 GROUP BY event_type)
        |SELECT event_type, n_sample,
        |       vals[CAST(greatest(1, ceil(0.5 * n_sample)) AS INT)] AS p50,
        |       vals[CAST(greatest(1, ceil(0.9 * n_sample)) AS INT)] AS p90,
        |       vals[CAST(greatest(1, ceil(0.99 * n_sample)) AS INT)] AS p99
        |FROM g""".stripMargin,
    "a18_sampled_quantiles" ->
      """WITH rk AS (
        |  SELECT event_type, value,
        |         row_number() OVER (PARTITION BY event_type
        |           ORDER BY ('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 15))::BIGINT) AS rn
        |  FROM events),
        |g AS (
        |  SELECT event_type, list_sort(list(value)) AS vals,
        |         CAST(count(*) AS BIGINT) AS n_sample
        |  FROM rk WHERE rn <= 256 GROUP BY event_type)
        |SELECT event_type, n_sample,
        |       vals[CAST(greatest(1, ceil(0.5 * n_sample)) AS INT)] AS p50,
        |       vals[CAST(greatest(1, ceil(0.9 * n_sample)) AS INT)] AS p90,
        |       vals[CAST(greatest(1, ceil(0.99 * n_sample)) AS INT)] AS p99
        |FROM g""".stripMargin,
    "d11_chunk_dedup" ->
      """WITH s AS (
        |  SELECT doc_id, regexp_replace(text, '^[ \t\n\x0b\f\r]+|[ \t\n\x0b\f\r]+$', '', 'g') AS t
        |  FROM documents),
        |tok AS (
        |  SELECT doc_id,
        |         CASE WHEN t = '' THEN []::VARCHAR[]
        |              ELSE string_split_regex(t, '[ \t\n\x0b\f\r]+') END AS toks
        |  FROM s),
        |ch AS (
        |  -- DuckDB's generate_series cannot take a lateral column bound;
        |  -- bounded cross-join + filter instead (docs cap out well under
        |  -- 64 chunks x 10 tokens)
        |  SELECT doc_id, g.i AS chunk_idx,
        |         array_to_string(list_slice(toks, g.i * 10 + 1, g.i * 10 + 10), ' ') AS chunk
        |  FROM tok CROSS JOIN range(0, 64) g(i)
        |  WHERE g.i < (len(toks) + 9) // 10),
        |rk AS (
        |  SELECT doc_id, chunk_idx, chunk,
        |         row_number() OVER (PARTITION BY chunk ORDER BY doc_id, chunk_idx) AS rn
        |  FROM ch)
        |SELECT doc_id,
        |       count(*) AS n_chunks,
        |       CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |       CASE WHEN sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) > 0
        |            THEN string_agg(CASE WHEN rn = 1 THEN chunk END, ' ' ORDER BY chunk_idx)
        |       END AS text_dedup
        |FROM rk GROUP BY doc_id""".stripMargin,
    // same md5-derived uint32 weights, exact BIGINT sum, one IEEE
    // division + subtraction — bit-identical score
    "t21_classifier_score" ->
      """WITH s AS (
        |  SELECT doc_id, regexp_replace(text, '^[ \t\n\x0b\f\r]+|[ \t\n\x0b\f\r]+$', '', 'g') AS t
        |  FROM documents),
        |tok AS (
        |  SELECT doc_id,
        |         CASE WHEN t = '' THEN []::VARCHAR[]
        |              ELSE string_split_regex(t, '[ \t\n\x0b\f\r]+') END AS toks
        |  FROM s),
        |h AS (
        |  SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
        |         CAST(coalesce(list_sum(list_transform(toks,
        |           x -> ('0x' || substr(md5('w#' || x), 1, 8))::BIGINT)), 0) AS BIGINT) AS hash_sum
        |  FROM tok)
        |SELECT doc_id, n_tokens, hash_sum,
        |       CASE WHEN n_tokens > 0
        |            THEN hash_sum::DOUBLE / (n_tokens * 2147483648.0) - 1 END AS score,
        |       coalesce(CASE WHEN n_tokens > 0
        |            THEN hash_sum::DOUBLE / (n_tokens * 2147483648.0) - 1 END > 0.0, false) AS keep
        |FROM h""".stripMargin,
    // same 2^-20 fixed-point quantization, exact BIGINT sum, one division
    "s9_label_centroids" ->
      """WITH e AS (
        |  SELECT label,
        |         CAST(generate_subscripts(embedding, 1) - 1 AS INT) AS dim,
        |         unnest(embedding) AS x
        |  FROM embeddings)
        |SELECT label, dim,
        |       CAST(SUM(CAST(floor(x::DOUBLE * 1048576.0) AS BIGINT)) AS DOUBLE)
        |         / (count(*) * 1048576.0) AS m,
        |       count(*) AS n_vectors
        |FROM e GROUP BY label, dim""".stripMargin,
    // same fixed-point quantization chain (components AND re-quantized
    // centroid means), exact BIGINT dots/norms, two IEEE ops, same
    // argmax tie-break
    "s10_label_noise" ->
      """WITH e AS (
        |  SELECT vec_id, label,
        |         CAST(generate_subscripts(embedding, 1) - 1 AS INT) AS dim,
        |         unnest(embedding) AS x
        |  FROM embeddings),
        |q AS (
        |  SELECT vec_id, label, dim,
        |         CAST(floor(x::DOUBLE * 1048576.0) AS BIGINT) AS qx
        |  FROM e),
        |cent AS (
        |  SELECT label AS c_label, dim,
        |         CAST(floor((CAST(SUM(qx) AS DOUBLE) / (count(*) * 1048576.0))
        |                    * 1048576.0) AS BIGINT) AS qm
        |  FROM q GROUP BY label, dim),
        |cnorm AS (
        |  SELECT c_label, CAST(SUM(qm * qm) AS BIGINT) AS c_norm
        |  FROM cent GROUP BY c_label),
        |dots AS (
        |  SELECT q.vec_id, q.label, cent.c_label,
        |         CAST(SUM(q.qx * cent.qm) AS BIGINT) AS dot
        |  FROM q JOIN cent USING (dim)
        |  GROUP BY q.vec_id, q.label, cent.c_label),
        |scored AS (
        |  SELECT dots.vec_id, dots.label, dots.c_label,
        |         dot::DOUBLE / sqrt(c_norm::DOUBLE) AS score,
        |         row_number() OVER (
        |           PARTITION BY dots.vec_id
        |           ORDER BY dot::DOUBLE / sqrt(c_norm::DOUBLE) DESC, dots.c_label ASC) AS rn
        |  FROM dots JOIN cnorm USING (c_label))
        |SELECT vec_id, label, c_label AS pred_label, score AS pred_score,
        |       c_label <> label AS is_noise
        |FROM scored WHERE rn = 1""".stripMargin,
    // exact GROUP BY counts stand in for the sketch's lower bounds —
    // equality holds because capacity exceeds the vocabulary
    "t23_heavy_hitters" ->
      // escaped whitespace class (RE2 interprets the backslash escapes)
      // like the sibling t21/t22/d11 oracles: literal control bytes were
      // fragile to editors AND silently omitted CR, which Java \s includes
      """WITH s AS (
        |  SELECT lang, regexp_replace(text, '^[ \t\n\x0b\f\r]+|[ \t\n\x0b\f\r]+$', '', 'g') AS t
        |  FROM documents),
        |tok AS (
        |  SELECT lang, unnest(string_split_regex(t, '[ \t\n\x0b\f\r]+')) AS token
        |  FROM s WHERE t <> ''),
        |cnt AS (
        |  SELECT lang, token, count(*) AS count_lb FROM tok GROUP BY lang, token),
        |rk AS (
        |  SELECT lang, token, count_lb,
        |         row_number() OVER (
        |           PARTITION BY lang ORDER BY count_lb DESC, token ASC) AS rnk
        |  FROM cnt)
        |SELECT lang, token, count_lb, CAST(rnk AS INT) AS rnk
        |FROM rk WHERE rnk <= 10""".stripMargin,
    // same exact integer tf/df, same single division, same tie-break
    "t22_tfidf_topterms" ->
      """WITH s AS (
        |  SELECT doc_id, regexp_replace(text, '^[ \t\n\x0b\f\r]+|[ \t\n\x0b\f\r]+$', '', 'g') AS t
        |  FROM documents),
        |tok AS (
        |  SELECT doc_id, unnest(string_split_regex(t, '[ \t\n\x0b\f\r]+')) AS term
        |  FROM s WHERE t <> ''),
        |tf AS (
        |  SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term),
        |dfreq AS (
        |  SELECT term, count(*) AS df FROM tf GROUP BY term),
        |ranked AS (
        |  SELECT tf.doc_id, tf.term, tf.tf, dfreq.df,
        |         tf.tf::DOUBLE / dfreq.df AS score,
        |         row_number() OVER (
        |           PARTITION BY tf.doc_id
        |           ORDER BY tf.tf::DOUBLE / dfreq.df DESC, tf.term ASC) AS rnk
        |  FROM tf JOIN dfreq USING (term))
        |SELECT doc_id, term, tf, df, score, CAST(rnk AS INT) AS rnk
        |FROM ranked WHERE rnk <= 3""".stripMargin,
  )
}
