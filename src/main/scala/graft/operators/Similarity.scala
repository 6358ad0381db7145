package graft.operators

import graft.core.Tables
import graft.functions.GraftFunctions.{mat_vec, pq_adc, pq_encode, sq8_dot, sq8_encode, vec_cosine, vec_dot}
import graft.functions.{PqUtil, Sq8Util}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.{Bridge => ExpressionUtils}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.{Column, DataFrame}

/** Static simhash kernel, called from generated code. */
object SimHashUtil {
  /** FNV-1a 64-bit — stable across JVMs/processes (unlike
    * `String.hashCode` or Python's salted `hash()`, cf. SURVEY §7.4 C7). */
  def fnv64(s: org.apache.spark.unsafe.types.UTF8String): Long = {
    var h = 0xcbf29ce484222325L
    val bytes = s.getBytes
    var i = 0
    while (i < bytes.length) { h ^= (bytes(i) & 0xffL); h *= 0x100000001b3L; i += 1 }
    h
  }

  /** 64-bit SimHash over a token array: per-bit vote of each token's FNV
    * hash, sign of the vote becomes the signature bit. */
  def simhash64(tokens: ArrayData): Long = {
    val votes = new Array[Int](64)
    val n = tokens.numElements()
    var t = 0
    while (t < n) {
      val h = fnv64(tokens.getUTF8String(t))
      var j = 0
      while (j < 64) {
        if (((h >>> j) & 1L) == 1L) votes(j) += 1 else votes(j) -= 1
        j += 1
      }
      t += 1
    }
    var sig = 0L
    var j = 0
    while (j < 64) { if (votes(j) > 0) sig |= (1L << j); j += 1 }
    sig
  }
}

/** Static md5-family simhash kernel — the single-pass form of
  * [[Similarity.simhashMd5Parity]]'s relational construction, emitting
  * the IDENTICAL 16-hex-char signature (token hash = md5 hex chars 1–8
  * as bits 32–63 and 9–16 as bits 0–31, per-bit ±1 votes, bit j set when
  * the vote sum is strictly positive, MSB-first hex rendering). The
  * relational form exists so a SQL oracle can REBUILD the value; this
  * kernel exists so the Spark side doesn't pay the 64×-per-token bit
  * explosion to produce it (kernel-vs-relational parity unit-tested,
  * and the oracle hash-checks the value end to end). */
object Md5SimHashUtil {
  private val md = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  def simhashHex(tokens: ArrayData): org.apache.spark.unsafe.types.UTF8String = {
    val votes = new Array[Int](64)
    val n = tokens.numElements()
    var t = 0
    while (t < n) {
      val d = md.get()
      d.reset()
      val h = d.digest(tokens.getUTF8String(t).getBytes)
      // hex chars 1-8 = bytes 0-3 (hhi), chars 9-16 = bytes 4-7 (hlo)
      var hhi = 0L
      var hlo = 0L
      var b = 0
      while (b < 4) {
        hhi = (hhi << 8) | (h(b) & 0xffL)
        hlo = (hlo << 8) | (h(b + 4) & 0xffL)
        b += 1
      }
      var j = 0
      while (j < 64) {
        val bit = if (j < 32) (hlo >>> j) & 1L else (hhi >>> (j - 32)) & 1L
        if (bit == 1L) votes(j) += 1 else votes(j) -= 1
        j += 1
      }
      t += 1
    }
    var sig = 0L
    var j = 0
    while (j < 64) { if (votes(j) > 0) sig |= (1L << j); j += 1 }
    org.apache.spark.unsafe.types.UTF8String.fromString(f"$sig%016x")
  }
}

/** Codegen'd md5-family simhash (16-hex-char string) of an
  * `Array[String]` token column. */
case class Md5SimHashHex(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override protected def nullSafeEval(v: Any): Any =
    Md5SimHashUtil.simhashHex(v.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.operators.Md5SimHashUtil.simhashHex($c)")
  override protected def withNewChildInternal(c: Expression): Md5SimHashHex = copy(c)
  override def prettyName: String = "md5_simhash_hex"
}

/** Codegen'd 64-bit SimHash of an `Array[String]` token column. */
case class SimHash64(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override protected def nullSafeEval(v: Any): Any =
    SimHashUtil.simhash64(v.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.operators.SimHashUtil.simhash64($c)")
  override protected def withNewChildInternal(c: Expression): SimHash64 = copy(c)
  override def prettyName: String = "simhash64"
}

/** Similarity-search operators over `Array[Float]` embedding columns.
  *
  * Scale design: brute-force top-k is the correctness baseline (one scan,
  * TakeOrdered — no full sort, no shuffle of the corpus). The LSH
  * hyperplane path buckets the corpus once (per-row signature, zero
  * shuffle) so candidate generation at 100 TB touches only same-bucket
  * pairs; exact cosine re-ranks within buckets.
  */
object Similarity {

  def simhash64(tokens: Column): Column =
    ExpressionUtils.column(SimHash64(ExpressionUtils.expression(tokens)))

  /** Single-pass md5-family simhash hex (see [[Md5SimHashUtil]]) — the
    * fast form of [[simhashMd5Parity]], bit-identical output. */
  def md5SimhashHex(tokens: Column): Column =
    ExpressionUtils.column(Md5SimHashHex(ExpressionUtils.expression(tokens)))

  /** Oracle-parity SimHash: the same per-bit-vote construction as
    * [[SimHash64]], but with md5-derived token hashes and a RELATIONAL
    * formulation (explode → per-bit votes → nibble pack), so an ANSI-SQL
    * oracle can reproduce it bit for bit — FNV-1a is not expressible in
    * SQL, which is why d6 was rows-only before this. Token hash = 64 bits
    * from the md5 hex: chars 1–8 are bits 32–63, chars 9–16 are bits
    * 0–31; sig bit j set when the +/−1 vote sum is strictly positive
    * (exactly [[SimHashUtil.simhash64]]'s `votes(j) > 0`); output is the
    * standard 16-hex-char MSB-first rendering.
    *
    * Both aggregations partial map-side; the bit explosion is 64× the
    * token count, so this is the CHECKABLE path — the single-pass codegen
    * [[SimHash64]] kernel remains the 100 TB scale path. */
  def simhashMd5Parity(df: DataFrame, idCol: String, tokens: Column): DataFrame = {
    val tok = df.select(col(idCol), explode(tokens).as("t"))
    val h = tok.select(col(idCol),
      conv(substring(md5(col("t")), 1, 8), 16, 10).cast("long").as("hhi"),
      conv(substring(md5(col("t")), 9, 8), 16, 10).cast("long").as("hlo"))
    val bits = h
      .withColumn("j", explode(sequence(lit(0), lit(63))))
      .select(col(idCol), col("j"),
        expr("CASE WHEN j < 32 THEN shiftright(hlo, j) & 1L " +
          "ELSE shiftright(hhi, j - 32) & 1L END").as("bit"))
    val votes = bits.groupBy(col(idCol), col("j"))
      .agg(sum(col("bit") * 2 - 1).as("v"))
    val nibbles = votes
      .groupBy(col(idCol), expr("15 - j div 4").as("n"))
      .agg(expr("sum(CASE WHEN v > 0 THEN shiftleft(1L, cast(j % 4 as int)) ELSE 0L END)")
        .as("nv"))
    nibbles.groupBy(col(idCol))
      .agg(array_join(
        transform(
          array_sort(collect_list(struct(col("n"), col("nv")))),
          x => lower(conv(x.getField("nv"), 10, 16))), "").as("simhash_hex"))
  }

  /** Hamming distance between two 64-bit signatures. */
  def hamming64(a: Column, b: Column): Column =
    bit_count(a.bitwiseXOR(b)).cast("int")

  /** Embedding dimensionality probe (driver-side, single-row scan). */
  def dimOf(df: DataFrame, vecCol: String): Int =
    df.select(size(col(vecCol))).limit(1).head().getInt(0)

  /** Deterministic Gaussian hyperplanes (driver-generated, broadcast as
    * literals into the plan — no side files, no shuffle). */
  def randomPlanes(dim: Int, planes: Int, seed: Long): Array[Array[Float]] = {
    val rnd = new java.util.Random(seed)
    Array.fill(planes)(Array.fill(dim)(rnd.nextGaussian().toFloat))
  }

  /** Oracle-parity hyperplane family: ±1 (Rademacher) components derived
    * from `md5("{seed}#{plane}#{dim}")` — sign +1 when the first hex digit
    * is 0–7. Sign-random-projection with ±1 entries is a standard LSH
    * family (sparse random projections); what makes THIS one special is
    * that an ANSI-SQL oracle can rebuild it verbatim with `md5(...)`, and
    * the resulting dot product is bit-identical across engines: ±1·v is an
    * exact double, and both [[graft.functions.FloatVectorOps.dot]] and
    * DuckDB's `list_reduce` fold left-to-right, so every rounding step
    * agrees. The JVM-seeded Gaussian family stays the operator default;
    * the md5 family is what the DECLARED s2/d7 queries use so the driver
    * can hash-check the full ANN pipeline (same trick as d5/d6/d9). */
  def md5SignPlanes(dim: Int, planes: Int, seed: Long): Array[Array[Float]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(planes) { i =>
      Array.tabulate(dim) { j =>
        val hex = md.digest(s"$seed#$i#$j".getBytes("UTF-8"))
        // first hex digit = high nibble of byte 0
        if (((hex(0) >> 4) & 0xf) < 8) 1.0f else -1.0f
      }
    }
  }

  /** Pack sign(v·plane_i) bits into a Long bucket signature for an
    * explicit plane set. */
  def signatureOf(vec: Column, ps: Array[Array[Float]]): Column =
    ps.zipWithIndex
      .map { case (p, i) =>
        when(vec_dot(vec, typedlit(p.toSeq)) > 0, lit(1L << i)).otherwise(lit(0L))
      }
      .reduce(_ + _)

  /** Pack sign(v·plane_i) bits into a Long bucket signature. */
  def hyperplaneSignature(vec: Column, dim: Int, planes: Int, seed: Long,
      md5Family: Boolean = false): Column =
    signatureOf(vec,
      if (md5Family) md5SignPlanes(dim, planes, seed)
      else randomPlanes(dim, planes, seed))

  /** Brute-force cosine top-k against one query vector: single corpus scan,
    * codegen'd dot product, TakeOrderedAndProject. */
  def bruteForceTopK(
      corpus: DataFrame, idCol: String, vecCol: String,
      query: Seq[Float], k: Int): DataFrame =
    corpus
      .select(col(idCol), vec_cosine(col(vecCol), typedlit(query)).as("cosine"))
      .orderBy(col("cosine").desc, col(idCol).asc)
      .limit(k)

  /** SQ8 scalar-quantized top-k against one query vector (FAISS's SQ8
    * flat-scan shape): [[graft.functions.Sq8Encode]] packs each embedding
    * to 1 byte/dim map-side (4x less data touched per scan than float32 —
    * at 100 TB the quantized corpus would be materialized once and
    * scanned instead of the floats), [[graft.functions.Sq8Dot]] scores
    * with exact integer arithmetic, TakeOrderedAndProject keeps k.
    * `rerank > 0` re-sorts the top-`rerank` code-score candidates by
    * exact cosine — the standard two-stage ANN refinement; the vectors
    * ride along only into the bounded candidate set.
    * Output: (idCol, score) — or (idCol, cosine) when reranking. */
  def sq8TopK(
      corpus: DataFrame, idCol: String, vecCol: String,
      query: Seq[Float], k: Int, rerank: Int = 0,
      /** name of a PRE-MATERIALIZED code column (e.g. from
        * [[writeIvfIndex]] with codes) — skips the on-the-fly encode so
        * the scan touches 1 byte/dim instead of the float vectors until
        * the rerank stage. */
      codeCol: Option[String] = None): DataFrame = {
    val qCodes = lit(Sq8Util.encodeFloats(query.toArray))
    val scored = corpus.select(
      col(idCol), col(vecCol).as("__v"),
      sq8_dot(codeCol.map(col).getOrElse(sq8_encode(col(vecCol))), qCodes)
        .as("score"))
    if (rerank <= 0)
      scored.orderBy(col("score").desc, col(idCol).asc).limit(k)
        .select(col(idCol), col("score"))
    else
      scored.orderBy(col("score").desc, col(idCol).asc)
        .limit(math.max(k, rerank))
        .select(col(idCol), vec_cosine(col("__v"), typedlit(query)).as("cosine"))
        .orderBy(col("cosine").desc, col(idCol).asc)
        .limit(k)
  }

  /** Matryoshka (MRL, Kusupati et al. 2022) two-stage retrieval: coarse
    * top-`coarseK` by cosine over only the FIRST `prefixDims` dimensions
    * (MRL-trained embeddings front-load information, so the prefix is a
    * usable low-dim embedding), then exact full-dim rerank of the
    * bounded candidate set down to top-k. The scale story mirrors
    * [[sq8TopK]]'s: at 100 TB the prefix would be materialized as its
    * own parquet column so the coarse scan reads `prefixDims/dim` of the
    * bytes (16/64 here = 4×); the full vectors are touched only for the
    * `coarseK` survivors. Both stages are scan + codegen'd cosine +
    * TakeOrderedAndProject — no shuffle, no index to build, which is
    * the operational advantage over IVF when the corpus churns. */
  def matryoshkaTopK(
      corpus: DataFrame, idCol: String, vecCol: String,
      query: Seq[Float], k: Int, prefixDims: Int, coarseK: Int): DataFrame =
    corpus
      .select(col(idCol), col(vecCol).as("__v"),
        vec_cosine(slice(col(vecCol), 1, prefixDims),
          typedlit(query.take(prefixDims))).as("coarse"))
      .orderBy(col("coarse").desc, col(idCol).asc)
      .limit(coarseK)
      .select(col(idCol), vec_cosine(col("__v"), typedlit(query)).as("cosine"))
      .orderBy(col("cosine").desc, col(idCol).asc)
      .limit(k)

  /** Maximal-marginal-relevance diverse top-k — the data-SELECTION shape
    * (Carbonell & Goldstein 1998; used for retrieval-context and
    * training-subset diversity): greedily pick the candidate maximizing
    * `lambda·rel(c) − mu·max_{p∈picked} sim(c, p)`, so each pick is
    * relevant to the query AND far from everything already picked.
    *
    * Scale split: the distributed stage is the 100 TB part — a scan-side
    * cosine ([[graft.functions.FloatVectorCosine]], codegen'd) +
    * TakeOrderedAndProject down to a `poolSize` candidate pool. The
    * greedy loop is inherently sequential (each argmax depends on the
    * previous pick), so it runs on the driver over the BOUNDED pool
    * (`poolSize²` cosines; 32² = 1k — microseconds), using
    * [[graft.functions.FloatVectorOps.cosineArrays]], the bitwise twin
    * of the scan-side expression. `mu` is a separate weight (not
    * `1 − lambda`) so oracles can spell both as exact literals.
    * Ties break to the smaller id at every argmax. Output: one row per
    * pick, `(rnk 1..k, id)` in selection order. */
  def mmrSelect(
      corpus: DataFrame, idCol: String, vecCol: String,
      query: Seq[Float], k: Int, poolSize: Int = 32,
      lambda: Double = 0.7, mu: Double = 0.3): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    require(k <= poolSize, s"k=$k exceeds poolSize=$poolSize")
    val pool = corpus
      .select(col(idCol).cast("long").as("id"),
        col(vecCol).as("__v"),
        vec_cosine(col(vecCol), typedlit(query)).as("rel"))
      .orderBy(col("rel").desc, col("id").asc)
      .limit(poolSize)
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray, r.getDouble(2)))
    mmrGreedy(pool, k, lambda, mu).zipWithIndex
      .map { case (id, i) => ((i + 1).toLong, id) }
      .toDF("rnk", idCol)
  }

  /** DBSCAN density clustering over an embedding corpus (Ester et al.
    * 1996), with neighborhoods from the banded hyperplane-LSH candidate
    * graph: a point is CORE when its ε-neighborhood (cosine ≥ `tau`
    * among LSH-visible candidates) holds ≥ `minPts` points including
    * itself; clusters are the connected components of the core-core
    * graph; non-core points with a core neighbor join that neighbor's
    * cluster as BORDER (ties to the smallest component id —
    * deterministic, where textbook DBSCAN is arrival-order-dependent);
    * the rest are NOISE. The density-based complement to
    * [[kmeansLloydExact]]: finds arbitrarily-shaped clusters and an
    * explicit noise bucket, no k to pick. Approximate exactly like
    * [[knnGraph]]: neighbor pairs the LSH bands never co-bucket are
    * invisible (recall compounds with `bands`; the s7 semantic-dedup
    * trade, stated). Scale shape: per-row signatures, within-bucket
    * exact cosine with the hot-bucket guard, one degree aggregation,
    * and components over the core-core edge list — orders of magnitude
    * smaller than the corpus. Returns (idCol, role ∈ core|border|noise,
    * cluster — min member id, NULL for noise). */
  def dbscanLabels(
      corpus: DataFrame, idCol: String, vecCol: String,
      tau: Double, minPts: Int,
      planes: Int, seed: Long, bands: Int = 2,
      md5Family: Boolean = false, maxBucketAllPairs: Int = 1024): DataFrame = {
    require(minPts >= 2, s"minPts must be >= 2: got $minPts")
    val pairs = graft.operators.Dedup.embeddingNearDupPairs(
      corpus, idCol, vecCol, planes, seed, tau, bands, md5Family,
      maxBucketAllPairs)
    // a small integral pair set is labelled on the driver ([[DriverGate]]):
    // the distributed labelling is 3 multi-stage shuffle actions, which
    // over a few thousand confirmed pairs is pure per-task overhead
    // (s23 at sf0.1 spent ~5 of 7 s there over 1,363 pairs)
    val out = DriverGate.longPairs(pairs, "d1", "d2") match {
      case Some(bounded) => dbscanDriver(corpus, idCol, pairs, bounded, minPts)
      case None => dbscanDistributed(corpus, idCol, pairs, minPts)
    }
    out.persist().count()
    pairs.unpersist(blocking = false)
    out
  }

  /** [[dbscanLabels]]' labelling on the driver: degree → core → min-id
    * union-find over core-core edges → border, in primitive arrays
    * indexed by sorted-id position. Same rows and schema as
    * [[dbscanDistributed]]: exact integer min-label logic on both. */
  private def dbscanDriver(
      corpus: DataFrame, idCol: String, pairs: DataFrame,
      bounded: Array[(Long, Long)], minPts: Int): DataFrame = {
    val spark = corpus.sparkSession
    import graft.operators.{DriverUnionFind => UF}
    val ids = UF.sortedIds(bounded)
    val deg = new Array[Int](ids.length)
    bounded.foreach { case (a, b) =>
      deg(UF.indexOf(ids, a)) += 1; deg(UF.indexOf(ids, b)) += 1
    }
    val core = Array.tabulate(ids.length)(i => deg(i) + 1 >= minPts)
    // min-id union-find over core-core edges (roots are always the
    // component's min id — the connectedComponents invariant)
    val root = UF.unionAll(ids, bounded, i => core(i))
    // component of a core index; isolated cores (no core neighbor) are
    // their own 1-core cluster (their root is themselves already)
    def comp(i: Int): Long = ids(root(i))
    // border: non-core with ≥1 core neighbor joins the MIN component
    val borderComp = Array.fill(ids.length)(Long.MaxValue)
    def offer(si: Int, ti: Int): Unit =
      if (!core(si) && core(ti)) {
        val ct = comp(ti)
        if (ct < borderComp(si)) borderComp(si) = ct
      }
    bounded.foreach { case (a, b) =>
      val ia = UF.indexOf(ids, a); val ib = UF.indexOf(ids, b)
      offer(ia, ib); offer(ib, ia)
    }
    import spark.implicits._
    val labels = (0 until ids.length).iterator.flatMap { i =>
      if (core(i)) Some((ids(i), "core", comp(i)))
      else if (borderComp(i) != Long.MaxValue)
        Some((ids(i), "border", borderComp(i)))
      else None
    }.toSeq
    val labelDs = DriverGate.datasetOf(spark, labels)
      .toDF("__lid", "__role", "cluster")
    // broadcast only a label set that credibly fits executor memory (a
    // few MB; bigger label sets shuffle-join, which at that size is what
    // the distributed path would have done anyway)
    val labelDf =
      if (labels.length <= 100000) broadcast(labelDs) else labelDs
    // equi-join on the ORIGINAL id column (coercion handles narrower
    // integral types) so the output id keeps the corpus's exact type;
    // cluster is cast to the coerced pair-id type so both paths emit
    // the same schema
    val base = corpus.select(col(idCol))
    base.join(labelDf, base(idCol) === labelDf("__lid"), "left")
      .select(col(idCol),
        coalesce(col("__role"), lit("noise")).as("role"),
        col("cluster").cast(DriverGate.nodeType(pairs, "d1", "d2")).as("cluster"))
  }

  /** [[dbscanLabels]]' distributed labelling of the ε-neighborhood pair
    * set `pairs` (d1, d2), whatever its size. */
  private[graft] def dbscanDistributed(
      corpus: DataFrame, idCol: String, pairs: DataFrame, minPts: Int): DataFrame = {
    val edges = pairs.select(col("d1").as("s"), col("d2").as("t"))
      .unionByName(pairs.select(col("d2").as("s"), col("d1").as("t")))
    val core = edges.groupBy("s").agg(count(lit(1)).as("nn"))
      .filter(col("nn") + 1 >= minPts)
      .select(col("s").as("id"))
    val coreEdges = edges
      .join(core.select(col("id").as("s")), "s")
      .join(core.select(col("id").as("t")), "t")
    val comps = Graph.connectedComponents(coreEdges, "s", "t")
      .select(col("node").as("id"), col("label").as("component"))
    // isolated cores (no core neighbor) are their own 1-core cluster
    val coreComp = core.join(comps, Seq("id"), "left")
      .select(col("id"), coalesce(col("component"), col("id")).as("component"))
    val border = edges
      .join(coreComp.select(col("id").as("t"), col("component")), "t")
      .join(core.select(col("id").as("s")), Seq("s"), "left_anti")
      .groupBy("s").agg(min("component").as("component"))
    corpus.select(col(idCol).as("id"))
      .join(coreComp.select(col("id"), col("component").as("c_comp")), Seq("id"), "left")
      .join(border.select(col("s").as("id"), col("component").as("b_comp")), Seq("id"), "left")
      .select(col("id").as(idCol),
        when(col("c_comp").isNotNull, lit("core"))
          .when(col("b_comp").isNotNull, lit("border"))
          .otherwise(lit("noise")).as("role"),
        coalesce(col("c_comp"), col("b_comp")).as("cluster"))
  }

  /** SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
    * web-scale through semantic deduplication") — SEMANTIC near-dup
    * removal, end to end: cluster the embedding space with
    * [[dbscanLabels]] (DBSCAN over the banded hyperplane-LSH
    * neighborhood graph), then keep exactly ONE representative per
    * dense cluster — the argmax of `qualityCol`, ties to the smaller id
    * (a total order, so the survivor set is deterministic) — and keep
    * every noise point (nothing semantically close → nothing to dedup
    * against). This composes the engine's building blocks the way a
    * production pipeline would: s22/s23's clustering for the "what is
    * semantically redundant" question, d16's best-of-group rule for
    * "which copy to keep".
    *
    * Scale shape: everything rides dbscanLabels' bucketed pipeline; the
    * survivor window runs over the CLUSTERED rows only (corpus-sized
    * input never re-shuffles — one quality join keyed on the id, one
    * window over cluster members, and cluster cardinality is bounded by
    * the near-dup rate, not the corpus). Returns one row per corpus doc:
    * (idCol, role, cluster, quality, kept) — callers filter
    * `kept` for the survivor corpus or audit the dropped mass per
    * cluster. */
  def semanticSurvivors(
      corpus: DataFrame, idCol: String, vecCol: String, qualityCol: String,
      tau: Double, minPts: Int,
      planes: Int, seed: Long, bands: Int = 2,
      md5Family: Boolean = false, maxBucketAllPairs: Int = 1024): DataFrame = {
    val labels = dbscanLabels(
      corpus.select(col(idCol), col(vecCol)), idCol, vecCol,
      tau, minPts, planes, seed, bands, md5Family, maxBucketAllPairs)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("cluster").orderBy(col("quality").desc, col(idCol).asc)
    val withQ = labels
      // double, not long: a fractional quality score (0.9 vs 0.2) must
      // still drive the argmax — a long cast would truncate both to 0
      // and silently degrade the survivor rule to min-id tie-break
      .join(corpus.select(col(idCol), col(qualityCol).cast("double").as("quality")),
        Seq(idCol))
    // the survivor window runs over CLUSTERED rows only: at corpus scale
    // most docs are noise, and noise shares one NULL cluster key — run
    // the window over it and a single task owns ~the whole corpus
    val clustered = withQ.filter(col("cluster").isNotNull)
      .withColumn("__rk", row_number().over(w))
      .withColumn("kept", col("__rk") === 1)
      .drop("__rk")
    val out = clustered.unionByName(
      withQ.filter(col("cluster").isNull).withColumn("kept", lit(true)))
    // labels was pinned by dbscanLabels (caller-owned): pin the
    // composition, release the intermediate
    out.persist().count()
    labels.unpersist(blocking = false)
    out
  }

  /** Approximate kNN GRAPH over an embedding corpus — every document's
    * top-k nearest neighbors in one batch job (the substrate for
    * SemDeDup-style clustering, label propagation over semantic edges,
    * and graph-based diversity analysis; [[knnPredict]] answers one
    * query, this materializes the whole graph). Candidates come from
    * [[graft.operators.Dedup.embeddingNearDupPairs]]'s banded
    * hyperplane-LSH buckets (per-row signatures, within-bucket exact
    * cosine, the hot-bucket chain guard riding along), symmetrized and
    * ranked per source by (cosine DESC, dst ASC) over a window bounded
    * by each node's candidate count. Output (src, rnk, dst) — ranks
    * only, the s1 convention, so the gate is robust to last-ulp float
    * differences. Approximate by construction: nodes sharing no band
    * bucket contribute no edge (recall compounds with `bands`). */
  def knnGraph(
      corpus: DataFrame, idCol: String, vecCol: String,
      k: Int, planes: Int, seed: Long, bands: Int = 2,
      md5Family: Boolean = false, maxBucketAllPairs: Int = 1024): DataFrame = {
    require(k >= 1, s"k must be >= 1: got $k")
    val pairs = graft.operators.Dedup.embeddingNearDupPairs(
      corpus, idCol, vecCol, planes, seed, threshold = -1.0, bands,
      md5Family, maxBucketAllPairs)
    val sym = pairs
      .select(col("d1").as("src"), col("d2").as("dst"), col("cosine"))
      .unionByName(pairs
        .select(col("d2").as("src"), col("d1").as("dst"), col("cosine")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("src").orderBy(col("cosine").desc, col("dst").asc)
    val out = sym.withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("src"), col("rnk"), col("dst"))
    // pairs is persisted by its producer (caller-owned contract): pin the
    // graph, then release the pair frame
    out.persist().count()
    pairs.unpersist(blocking = false)
    out
  }

  /** Greedy BEAM search over a materialized kNN graph — the SERVING path
    * for [[knnGraph]] (the single-layer HNSW shape: Malkov & Yashunin
    * 2018's search loop without the layer hierarchy). Start from a
    * deterministic `entryIds` set, then `hops` times expand the current
    * beam's out-neighbors from the graph and keep the `beam` best by
    * EXACT cosine to the query (ties to the smaller id); emit the final
    * beam's top `k` as (rnk, idCol) — the s1 rank-only convention. The
    * FIXED hop count (vs the classic stop-when-no-improvement) makes the
    * traversal a pure function of (graph, corpus, query, entries), which
    * is what lets an oracle replay it as unrolled hop CTEs; the beam is
    * monotone non-worsening because the previous beam always re-enters
    * the candidate set.
    *
    * Scale shape: driver state is `beam` ids per hop — never
    * corpus-sized. Each hop is one IN-filter probe of the graph's `src`
    * (partition-prunable when the graph is bucketed by src, the 100 TB
    * layout) plus one IN-filter corpus scan for ≤ beam·(k+1) exact
    * scores; versus IVF's nprobe·bucket scan the graph descent touches
    * O(beam·degree·hops) vectors regardless of how the corpus is
    * distributed — the standard trade once buckets outgrow memory. */
  def graphSearch(
      corpus: DataFrame, graph: DataFrame, idCol: String, vecCol: String,
      query: Seq[Float], entryIds: Seq[Long],
      k: Int, beam: Int, hops: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1: got $k")
    require(beam >= k, s"beam ($beam) must be >= k ($k)")
    require(hops >= 0, s"hops must be >= 0: got $hops")
    require(entryIds.nonEmpty, "graphSearch needs at least one entry id")
    val beam0 = scoredByQuery(corpus, idCol, vecCol, query,
      corpus.filter(col(idCol).isin(entryIds: _*)).select(col(idCol).cast("long").as("id")))
      .limit(beam).collect().map(_.getLong(0)).toSeq
    require(beam0.nonEmpty,
      s"graphSearch: none of the ${entryIds.length} entry ids resolve to a " +
        s"corpus row — the descent would silently return empty")
    descendFrom(corpus, graph, idCol, vecCol, query, beam0, k, beam, hops)
  }

  /** One (id, __cos DESC, id ASC)-ordered scoring scan of `candidates`
    * (an `id`-column frame) against a literal query — shared hop kernel
    * of the single-query descents. */
  private def scoredByQuery(
      corpus: DataFrame, idCol: String, vecCol: String,
      query: Seq[Float], candidates: DataFrame): DataFrame =
    candidates.join(
        corpus.select(col(idCol).cast("long").as("id"), col(vecCol).as("__v")),
        Seq("id"))
      .select(col("id"), vec_cosine(col("__v"), typedlit(query)).as("__cos"))
      .orderBy(col("__cos").desc, col("id").asc)

  /** The fixed-hop beam loop shared by [[graphSearch]] (literal entries)
    * and [[graphSearchSeeded]] (LSH-seeded entries): `hops` times expand
    * the beam's out-neighbors and keep the `beam` best by exact cosine,
    * then emit the final beam's top `k` as (rnk, idCol). */
  private def descendFrom(
      corpus: DataFrame, graph: DataFrame, idCol: String, vecCol: String,
      query: Seq[Float], beam0: Seq[Long],
      k: Int, beam: Int, hops: Int): DataFrame = {
    val spark = corpus.sparkSession
    var beamIds = beam0
    var h = 0
    while (h < hops) {
      // ONE action per hop (r16): the neighbor expansion rides INSIDE the
      // scoring plan — beam ids as an isin-probe of the graph unioned
      // with the beam itself, scored and cut to `beam` in the same job —
      // instead of a separate collect of the neighbor set first (two
      // driver round-trips per hop made the fixed-cost job overhead, not
      // the probe, the measured wall at serving scale). Candidate set
      // and semantics are identical: topBeam(beam ∪ out-neighbors).
      import spark.implicits._
      val cand = graph.filter(col("src").isin(beamIds: _*))
        .select(col("dst").cast("long").as("id"))
        .unionByName(beamIds.toDF("id"))
        .distinct()
      beamIds = scoredByQuery(corpus, idCol, vecCol, query, cand)
        .limit(beam).collect().map(_.getLong(0)).toSeq
      h += 1
    }
    // rank the surviving beam (already ≤ beam rows) driver-side — the s1
    // pattern: no single-partition Window, ranks assigned over the
    // reduced result
    val top = scoredByQuery(corpus, idCol, vecCol, query,
      corpus.filter(col(idCol).isin(beamIds: _*)).select(col(idCol).cast("long").as("id")))
      .limit(k).collect()
    import spark.implicits._
    top.toSeq.zipWithIndex
      .map { case (r, i) => ((i + 1).toLong, r.getLong(0)) }
      .toDF("rnk", idCol)
  }

  /** (id, band, sig) hyperplane band-signature rows over a corpus — the
    * ENTRY INDEX for seeded graph serving (the same banded family
    * [[graft.operators.Dedup.embeddingNearDupPairs]] buckets with, so
    * the signatures that built the kNN graph can seed its queries for
    * free). Row-local expressions, zero shuffle; the 100 TB layout
    * materializes this once next to the graph, bucketed by (band, sig),
    * so a query's seed probe is a partition-pruned point lookup. */
  def bandSignatures(
      corpus: DataFrame, idCol: String, vecCol: String,
      planes: Int, seed: Long, bands: Int,
      md5Family: Boolean = false): DataFrame = {
    require(planes >= 1 && planes <= 62, s"planes out of range: $planes")
    require(bands >= 1, s"bands must be >= 1: got $bands")
    val dim = dimOf(corpus, vecCol)
    val sigCols = (0 until bands).map { b =>
      struct(lit(b).as("band"),
        hyperplaneSignature(col(vecCol), dim, planes, seed + b, md5Family)
          .as("sig")).as(s"sig$b")
    }
    corpus.select((col(idCol).cast("long").as("id") +: sigCols): _*)
      .select(col("id"),
        explode(array((0 until bands).map(b => col(s"sig$b")): _*)).as("bk"))
      .select(col("id"), col("bk.band").as("band"), col("bk.sig").as("sig"))
  }

  /** Driver-side twin of [[bandSignatures]] for ONE query vector — the
    * same plane family and the same left-to-right double fold as the
    * scan-side [[hyperplaneSignature]] expression (±1·v is exact and
    * both folds add in index order), so the query lands in exactly the
    * buckets its corpus twin would. Returns (band, sig) pairs. */
  def querySignatures(
      query: Seq[Float], planes: Int, seed: Long, bands: Int,
      md5Family: Boolean = false): Seq[(Int, Long)] = {
    val dim = query.length
    val qa = query.toArray
    (0 until bands).map { b =>
      val ps = if (md5Family) md5SignPlanes(dim, planes, seed + b)
               else randomPlanes(dim, planes, seed + b)
      var sig = 0L
      var i = 0
      while (i < ps.length) {
        var acc = 0.0
        var j = 0
        while (j < dim) { acc += qa(j).toDouble * ps(i)(j).toDouble; j += 1 }
        if (acc > 0) sig |= (1L << i)
        i += 1
      }
      (b, sig)
    }
  }

  /** [[graphSearch]] with LSH-SEEDED entries — the fix for the
    * navigability gap a fixed entry set has on corpora without global
    * structure: a pure kNN graph is near-forest on uniform data (fine
    * LSH buckets = tiny islands), so a descent from ANY fixed entries
    * reaches a vanishing neighborhood of 1M nodes. Seeding from the
    * query's own band buckets starts the beam among rows that are
    * LSH-close to the query (the buckets that built the graph), so hop
    * 0 already scores genuine neighbor candidates and the descent
    * refines within the right region — measured in SCALE's graphserve
    * stage: recall@10 ≈ 1.0 on a clustered 1M corpus and materially
    * non-zero on hash-uniform vectors, vs exactly 0.000 for the fixed
    * entry set. Seeding parameters may differ from the graph's build
    * parameters (fewer planes / more bands widen the seed pool — the
    * recall lever at serving time, no rebuild).
    *
    * `sigs` optionally passes a PRE-MATERIALIZED [[bandSignatures]]
    * frame (the serving shape: built once with the graph, bucketed by
    * (band, sig) so the probe partition-prunes); omitted, the index is
    * computed on the fly (one corpus scan — fine for tests, not the
    * per-query serving path). Guarded loud when the query shares no
    * bucket with any corpus row. */
  def graphSearchSeeded(
      corpus: DataFrame, graph: DataFrame, idCol: String, vecCol: String,
      query: Seq[Float], k: Int, beam: Int, hops: Int,
      planes: Int, seed: Long, bands: Int, md5Family: Boolean = false,
      sigs: Option[DataFrame] = None): DataFrame = {
    require(k >= 1, s"k must be >= 1: got $k")
    require(beam >= k, s"beam ($beam) must be >= k ($k)")
    require(hops >= 0, s"hops must be >= 0: got $hops")
    val index = sigs.getOrElse(
      bandSignatures(corpus, idCol, vecCol, planes, seed, bands, md5Family))
    val qsig = querySignatures(query, planes, seed, bands, md5Family)
    val pred = qsig.map { case (b, sg) =>
      col("band") === lit(b) && col("sig") === lit(sg)
    }.reduce(_ || _)
    val entries = index.filter(pred).select(col("id")).distinct()
    val beam0 = scoredByQuery(corpus, idCol, vecCol, query, entries)
      .limit(beam).collect().map(_.getLong(0)).toSeq
    require(beam0.nonEmpty,
      "graphSearchSeeded: the query shares no LSH band bucket with any " +
        s"corpus row (planes=$planes, bands=$bands) — widen the seed pool " +
        "(more bands or fewer planes) instead of returning empty")
    descendFrom(corpus, graph, idCol, vecCol, query, beam0, k, beam, hops)
  }

  /** BATCHED [[graphSearch]] — every query descends the graph together
    * (the s5 batched-serving convention): the beam is a (query, id)
    * FRAME, so each hop is ONE graph join + ONE corpus-score join + one
    * per-query window, and a thousand concurrent queries pay the
    * per-hop job cost once instead of a thousand driver loops. Same
    * fixed-hop semantics as the single-query path, applied per query;
    * self-matches are excluded per query (a corpus row serves as a
    * traversal node for every OTHER query). Output (qIdCol, rnk, idCol),
    * rank-only; a query with no scoreable entry candidate yields one
    * sentinel row (rnk = 0, idCol NULL) instead of failing the batch —
    * see [[descendBatchFrom]]. Returned PINNED (persist + count, caller
    * releases — the knnGraph contract).
    *
    * Scale shape: candidate volume per hop is |Q|·beam·(degree+1) rows —
    * query-bounded, never corpus-sized; the window partitions by query
    * (≤ beam·(degree+1) rows each), and the score join broadcasts the
    * candidate side against the id-keyed corpus. */
  def graphSearchBatch(
      corpus: DataFrame, graph: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, qIdCol: String, qVecCol: String,
      entryIds: Seq[Long], k: Int, beam: Int, hops: Int): DataFrame = {
    require(entryIds.nonEmpty, "graphSearchBatch needs at least one entry id")
    val q = broadcast(queries.select(
      col(qIdCol).cast("long").as("__q"), col(qVecCol).as("__qv")))
    val entries = q.select(col("__q"))
      .select(col("__q"), explode(typedlit(entryIds)).as("id"))
    descendBatchFrom(corpus, graph, idCol, vecCol, q, entries,
      qIdCol, k, beam, hops)
  }

  /** BATCHED [[graphSearchSeeded]] — per-query LSH-seeded entries as a
    * FRAME join instead of a driver loop: query band signatures
    * ([[bandSignatures]] over the queries frame) equi-join the corpus
    * signature index on (band, sig), so the whole batch's seed probe is
    * ONE broadcast join (query side is small by construction) and the
    * descent is the shared per-hop job set. Same fixed-hop semantics as
    * the single-query seeded path — SCALE's graphserve stage asserts
    * batched ≡ single EXACT on 1M vectors. `sigs` passes the
    * pre-materialized corpus index (the serving shape). */
  def graphSearchBatchSeeded(
      corpus: DataFrame, graph: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, qIdCol: String, qVecCol: String,
      k: Int, beam: Int, hops: Int,
      planes: Int, seed: Long, bands: Int, md5Family: Boolean = false,
      sigs: Option[DataFrame] = None): DataFrame = {
    val q = broadcast(queries.select(
      col(qIdCol).cast("long").as("__q"), col(qVecCol).as("__qv")))
    val index = sigs.getOrElse(
      bandSignatures(corpus, idCol, vecCol, planes, seed, bands, md5Family))
    val qsigs = broadcast(
      bandSignatures(queries, qIdCol, qVecCol, planes, seed, bands, md5Family)
        .select(col("id").as("__q"), col("band"), col("sig")))
    val entries = qsigs.join(index, Seq("band", "sig"))
      .select(col("__q"), col("id")).distinct()
    descendBatchFrom(corpus, graph, idCol, vecCol, q, entries,
      qIdCol, k, beam, hops)
  }

  /** The batched fixed-hop beam loop shared by [[graphSearchBatch]] and
    * [[graphSearchBatchSeeded]]: the beam is a (query, id) frame; each
    * hop is one graph join + one score join + a per-query window.
    *
    * A query with NO scoreable hop-0 candidate (entries unresolvable or
    * all self-excluded) degrades PER QUERY, not batch-atomically: the
    * seedable queries return their normal top-k and each unseedable
    * query contributes one loud SENTINEL row `(qIdCol, rnk = 0,
    * idCol = NULL)` — rnk 0 can never be a real rank (real ranks start
    * at 1), so callers can both detect the failures (`rnk = 0`) and
    * filter them without string parsing. Batch serving with one bad
    * query among thousands should not fail the thousands (the r15
    * advisory); the single-query paths keep their hard require, where
    * "the batch" IS the one query. */
  private def descendBatchFrom(
      corpus: DataFrame, graph: DataFrame, idCol: String, vecCol: String,
      q: DataFrame, entries: DataFrame, qIdCol: String,
      k: Int, beam: Int, hops: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1: got $k")
    require(beam >= k, s"beam ($beam) must be >= k ($k)")
    require(hops >= 0, s"hops must be >= 0: got $hops")
    def scored(cand: DataFrame): DataFrame =
      cand.join(corpus.select(col(idCol).cast("long").as("id"),
          col(vecCol).as("__v")), Seq("id"))
        .join(q, Seq("__q"))
        .filter(col("id") =!= col("__q"))
        .withColumn("__cos", vec_cosine(col("__v"), col("__qv")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("__q").orderBy(col("__cos").desc, col("id").asc)
    def topBeam(cand: DataFrame): DataFrame =
      scored(cand).withColumn("__r", row_number().over(w))
        .filter(col("__r") <= beam).select("__q", "id")
    // pin each hop's beam with an EAGER localCheckpoint (r16): the next
    // hop consumes it twice (union side and neighbor-join side), and the
    // checkpoint both materializes it in ONE job (persist+count was two)
    // and TRUNCATES the plan so hop h's analysis doesn't re-walk hops
    // 0..h−1 — beam frames are |Q|·beam rows, so the eager serialization
    // is noise while the per-action planning was the measured wall.
    // Blocks are reclaimed by the ContextCleaner as hops supersede.
    var beamDf = topBeam(entries).localCheckpoint(true)
    // a query whose hop-0 candidates are all self-excluded or
    // unresolvable would VANISH from the output otherwise — surface each
    // as a sentinel row after the descent. Driver set-diff over two
    // bounded single-stage collects (≤ |Q| ids each) instead of the old
    // except(), which paid a two-sided aggregate shuffle for the same
    // answer.
    val missing = {
      val qIds = q.select(col("__q")).collect().map(_.getLong(0))
      val seeded = beamDf.select(col("__q")).distinct()
        .collect().map(_.getLong(0)).toSet
      qIds.distinct.filterNot(seeded).sorted
    }
    var h = 0
    while (h < hops) {
      val nbrs = beamDf
        .join(graph.select(col("src").cast("long").as("id"),
          col("dst").cast("long").as("__dst")), Seq("id"))
        .select(col("__q"), col("__dst").as("id"))
      beamDf = topBeam(beamDf.unionByName(nbrs).distinct()).localCheckpoint(true)
      h += 1
    }
    val found = scored(beamDf)
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("__q").as(qIdCol), col("rnk"), col("id").as(idCol))
    val out =
      if (missing.isEmpty) found
      else {
        val spark = corpus.sparkSession
        import spark.implicits._
        found.unionByName(
          missing.toSeq.toDF("__mq")
            .select(col("__mq").as(qIdCol), lit(0L).as("rnk"),
              lit(null).cast("long").as(idCol)))
      }
    out.persist().count()
    // beam frames are localCheckpoint-backed — ContextCleaner reclaims
    out
  }

  /** Reciprocal-rank fusion (Cormack et al. 2009) — the standard hybrid-
    * retrieval combiner: each input ranking contributes 1/(k0 + rank)
    * per document, missing documents contribute 0, fused score = the
    * sum. The shape that merges a BM25 list with an ANN list without
    * score calibration (ranks only — scales never meet).
    *
    * Inputs are (idCol, rnk) frames — top-k lists, so everything here
    * is k-row-bounded whatever the corpus behind the rankings: the
    * full-outer rank merge and the final sort never see corpus-sized
    * data. Determinism: each contribution is one IEEE division of
    * exact integers and the sum folds left in input order — both
    * engine-reproducible; ties break on id. */
  def rrfFuse(
      rankings: Seq[DataFrame], idCol: String,
      k0: Int = 60, topK: Int = 10): DataFrame = {
    require(rankings.nonEmpty, "rrfFuse needs at least one ranking")
    require(k0 >= 1, s"k0 must be >= 1: got $k0")
    val tagged = rankings.zipWithIndex.map { case (r, i) =>
      r.select(col(idCol), col("rnk").cast("long").as(s"__r$i"))
    }
    val merged = tagged.reduce((a, b) => a.join(b, Seq(idCol), "full_outer"))
    val score = rankings.indices
      .map(i => coalesce(lit(1.0) / (lit(k0.toDouble) + col(s"__r$i")), lit(0.0)))
      .reduce(_ + _)
    merged.withColumn("rrf", score)
      .orderBy(col("rrf").desc, col(idCol).asc)
      .limit(topK)
      .select(col(idCol), col("rrf"))
  }

  /** The sequential MMR argmax over a BOUNDED candidate pool of
    * `(id, vector, relevance)` — the driver half of [[mmrSelect]],
    * exposed so serving paths (CLI `annquery --diverse`) can rerank an
    * index probe's candidates with identical semantics. Returns picked
    * ids in selection order. */
  def mmrGreedy(
      pool: Array[(Long, Array[Float], Double)], k: Int,
      lambda: Double, mu: Double): Seq[Long] = {
    val n = pool.length
    val picked = new scala.collection.mutable.ArrayBuffer[Long](k)
    val chosen = new Array[Boolean](n)
    // max sim of each candidate to the picked set so far (−∞ ≡ empty set:
    // the first argmax ranks by lambda·rel alone)
    val maxSim = Array.fill(n)(Double.NegativeInfinity)
    var step = 0
    while (step < math.min(k, n)) {
      var bestIdx = -1
      var bestScore = Double.NegativeInfinity
      var i = 0
      while (i < n) {
        if (!chosen(i)) {
          val penalty = if (maxSim(i) == Double.NegativeInfinity) 0.0 else maxSim(i)
          val score = lambda * pool(i)._3 - mu * penalty
          if (score > bestScore ||
              (score == bestScore && bestIdx >= 0 && pool(i)._1 < pool(bestIdx)._1)) {
            bestScore = score
            bestIdx = i
          }
        }
        i += 1
      }
      chosen(bestIdx) = true
      picked += pool(bestIdx)._1
      var j = 0
      while (j < n) {
        if (!chosen(j)) {
          val s = graft.functions.FloatVectorOps
            .cosineArrays(pool(j)._2, pool(bestIdx)._2)
          if (s > maxSim(j)) maxSim(j) = s
        }
        j += 1
      }
      step += 1
    }
    picked.toSeq
  }

  /** Top-k neighbors for EVERY query row: broadcast the (small) query set
    * against the (large) corpus, then a bounded top-k AGGREGATE per query.
    * The corpus never shuffles as data: the partial [[BoundedTopK]] runs
    * map-side, so the only exchange carries |partitions| x |Q| x k survivor
    * rows (a window `partitionBy(q)` would instead funnel corpus x |Q| rows
    * onto |Q| reducer keys — a scale killer). */
  def topKJoin(
      queries: DataFrame, corpus: DataFrame, qId: String, cId: String,
      qVec: String, cVec: String, k: Int,
      /** OPT-IN: set true when queries are drawn FROM the corpus, so a
        * query's own row doesn't spend a top-k slot on itself at cosine
        * 1.0. Off by default — with an unrelated corpus, an id that
        * merely collides with a query id would silently lose a
        * legitimate (possibly best) match. */
      excludeSelf: Boolean = false): DataFrame = {
    // internal names: queries and corpus may share column names
    val q = broadcast(queries.select(col(qId).as("__q_id"), col(qVec).as("__q_vec")))
    val joined = corpus.crossJoin(q)
    val candidates =
      if (excludeSelf) joined.filter(col(cId) =!= col("__q_id")) else joined
    candidates
      .withColumn("cosine", vec_cosine(col(cVec), col("__q_vec")))
      .groupBy(col("__q_id"))
      .agg(TopK.topkAgg(k)(col("cosine"), col(cId).cast("long")).as("topk"))
      .select(col("__q_id").as(qId), posexplode(col("topk")))
      .select(
        col(qId), col("col.id").as(cId),
        (col("pos") + 1).as("rnk"), col("col.score").as("cosine"))
  }

  /** Hard-negative mining for contrastive training (the DPR/SimCSE
    * batch-construction primitive): for each anchor, the k most-similar
    * corpus vectors whose label DIFFERS from the anchor's — maximally
    * confusing negatives, the ones that actually move a contrastive
    * loss. Same 100 TB shape as [[topKJoin]]: anchors broadcast (with
    * their labels), the corpus never shuffles, and the map-side bounded
    * [[TopK]] aggregate keeps k per anchor; the label inequality is a
    * scan-side filter BEFORE any scoring, so same-label rows cost
    * nothing. A self-match is excluded for free (it shares its own
    * label). Output: (qId, cId, rnk, cosine). */
  def hardNegatives(
      queries: DataFrame, corpus: DataFrame, qId: String, cId: String,
      qVec: String, cVec: String, qLabel: String, cLabel: String,
      k: Int): DataFrame = {
    val q = broadcast(queries.select(
      col(qId).as("__q_id"), col(qVec).as("__q_vec"),
      col(qLabel).as("__q_lab")))
    corpus.crossJoin(q)
      .filter(col(cLabel) =!= col("__q_lab"))
      .withColumn("cosine", vec_cosine(col(cVec), col("__q_vec")))
      .groupBy(col("__q_id"))
      .agg(TopK.topkAgg(k)(col("cosine"), col(cId).cast("long")).as("topk"))
      .select(col("__q_id").as(qId), posexplode(col("topk")))
      .select(
        col(qId), col("col.id").as(cId),
        (col("pos") + 1).as("rnk"), col("col.score").as("cosine"))
  }

  /** kNN majority-vote label prediction — classification by retrieval
    * (label-noise auditing's cross-check, few-shot tagging of an
    * unlabeled slice): each query's k nearest corpus vectors vote their
    * label; the winner is the most votes, ties to the smallest label —
    * a total order, so the prediction is deterministic. Same 100 TB
    * shape as [[topKJoin]] (queries broadcast, corpus never shuffles,
    * bounded per-query top-k); the vote itself runs on |queries|·k rows
    * — label lookup joins THAT tiny frame back, never the corpus.
    * Output: (qId, label_pred, votes). */
  def knnPredict(
      queries: DataFrame, corpus: DataFrame, qId: String, cId: String,
      qVec: String, cVec: String, cLabel: String, k: Int,
      excludeSelf: Boolean = false): DataFrame = {
    val neighbors = topKJoin(queries, corpus, qId, cId, qVec, cVec, k, excludeSelf)
    val labels = corpus.select(col(cId), col(cLabel).as("__lab"))
    val wv = Window.partitionBy(col(qId))
      .orderBy(col("votes").desc, col("__lab").asc)
    neighbors.join(labels, Seq(cId))
      .groupBy(col(qId), col("__lab"))
      .agg(count(lit(1)).as("votes"))
      .withColumn("__rk", row_number().over(wv))
      .filter(col("__rk") === 1)
      .select(col(qId), col("__lab").as("label_pred"), col("votes"))
  }

  /** Batch SQ8 ANN — [[topKJoin]]'s shape with a quantized prefilter:
    *
    *  1. scan 1 scores every (corpus row, query) with the INTEGER code
    *     dot ([[graft.functions.Sq8Dot]] over [[graft.functions.Sq8Encode]]
    *     codes — at 100 TB the code column would be materialized once,
    *     making this scan read 4x less than float32) and keeps
    *     `overfetch * k` survivors per query via the map-side bounded
    *     [[BoundedTopK]];
    *  2. the survivor id set (|Q| * overfetch * k rows — tiny) broadcasts
    *     back against the corpus, so the exact float cosine runs ONLY on
    *     survivors; a second bounded top-k emits the final k.
    *
    * The expensive float math thus touches overfetch*k rows per query
    * instead of the whole corpus, and neither scan shuffles corpus data.
    * Output matches [[topKJoin]]: (qId, cId, rnk, cosine). */
  def sq8TopKJoin(
      queries: DataFrame, corpus: DataFrame, qId: String, cId: String,
      qVec: String, cVec: String, k: Int, overfetch: Int = 4,
      excludeSelf: Boolean = false): DataFrame = {
    val q = broadcast(queries.select(
      col(qId).as("__q_id"), col(qVec).as("__q_vec"),
      sq8_encode(col(qVec)).as("__q_code")))
    val scored = corpus
      .select(col(cId), sq8_encode(col(cVec)).as("__c_code"))
      .crossJoin(q.select(col("__q_id"), col("__q_code")))
    val filtered =
      if (excludeSelf) scored.filter(col(cId) =!= col("__q_id")) else scored
    // integer scores are exact in double up to 2^53 (dim * 127^2 << that)
    val survivors = filtered
      .withColumn("__qs", sq8_dot(col("__c_code"), col("__q_code")).cast("double"))
      .groupBy(col("__q_id"))
      .agg(TopK.topkAgg(math.max(k, overfetch * k))(col("__qs"), col(cId).cast("long"))
        .as("topk"))
      .select(col("__q_id"), explode(col("topk.id")).as("__c_id"))
    corpus.select(col(cId), col(cVec))
      .join(broadcast(survivors), col(cId).cast("long") === col("__c_id"))
      .join(q.select(col("__q_id"), col("__q_vec")), "__q_id")
      .withColumn("__cos", vec_cosine(col(cVec), col("__q_vec")))
      .groupBy(col("__q_id"))
      .agg(TopK.topkAgg(k)(col("__cos"), col(cId).cast("long")).as("topk"))
      .select(col("__q_id").as(qId), posexplode(col("topk")))
      .select(
        col(qId), col("col.id").as(cId),
        (col("pos") + 1).as("rnk"), col("col.score").as("cosine"))
  }

  /** Driver-side Lloyd k-means over a bounded sample — the IVF coarse
    * quantizer. Deterministic for a fixed seed; centroids are broadcast as
    * plan literals. Sample stays small (driver holds sampleN * dim
    * floats); the CORPUS assignment below is fully distributed. */
  def kmeansCentroids(
      corpus: DataFrame, vecCol: String, k: Int, iters: Int, seed: Long,
      sampleN: Int = 2000): Array[Array[Float]] = {
    val sample = corpus.select(col(vecCol)).limit(sampleN)
      .collect().map(_.getSeq[Float](0).toArray)
    require(sample.nonEmpty, "empty corpus")
    lloyd(sample, k, iters, seed)
  }

  /** [[kmeansLloydExact]]'s centroids de-quantized to float — the
    * drop-in replacement for [[kmeansCentroids]] as the IVF coarse
    * quantizer when a bounded driver sample under-trains the list count
    * (FAISS practice wants ≳ 39 training points per centroid; a 2000-row
    * sample training 64+ lists at 100 TB leaves most lists shaped by a
    * handful of points). Every Lloyd iteration runs over the FULL
    * distributed corpus in exact integer space, and only k·dim centroid
    * components ever reach the driver. Same downstream contract as the
    * sampled trainer: centroids broadcast as plan literals into
    * [[ivfAssign]]/[[writeIvfIndex]]. */
  def kmeansCentroidsExact(
      corpus: DataFrame, idCol: String, vecCol: String, k: Int, iters: Int,
      scaleBits: Int = 20): Array[Array[Float]] = {
    val (cents, _) = kmeansLloydExact(corpus, idCol, vecCol, k, iters, scaleBits,
      seedByHash = true)
    val scale = (1L << scaleBits).toDouble
    cents.map(_.map(c => (c / scale).toFloat))
  }

  /** The AFFORDABLE exact IVF trainer: sampled init + a couple of exact
    * full-corpus refinement iterations. SCALE's ivftrain stage showed the
    * pure exact trainer buys its centroid geometry (offset 0.030 vs the
    * sample's 0.233 at 1M×64) at ~1000× the sampled wall — five full
    * Lloyd scans from a cold seed. Almost all of that geometry is
    * recoverable for the cost of the LAST iterations alone: the driver
    * sample ([[kmeansCentroids]], milliseconds) lands the centroids in
    * the right basins, then `refineIters` [[kmeansLloydExact]] passes
    * (each = one scan-side argmin + one k·dim aggregate) polish each
    * centroid with the FULL corpus's exact mean, with the integer early
    * exit stopping the loop the moment no centroid moves. The result
    * keeps the exact trainer's defining property — final centroids are
    * full-corpus means in exact arithmetic — while paying 1–2 scans
    * instead of `iters`. Same contract as the other trainers: float
    * centroids, broadcast as plan literals downstream. */
  def kmeansCentroidsRefined(
      corpus: DataFrame, idCol: String, vecCol: String, k: Int,
      sampleIters: Int = 10, refineIters: Int = 2, seed: Long = 42L,
      sampleN: Int = 2000, scaleBits: Int = 20,
      onIter: (Int, Long) => Unit = (_, _) => ()): Array[Array[Float]] = {
    val scale = (1L << scaleBits).toDouble
    val init = kmeansCentroids(corpus, vecCol, k, sampleIters, seed, sampleN)
      .map(_.map(x => math.round(x.toDouble * scale)))
    val (cents, _) = kmeansLloydExact(corpus, idCol, vecCol, k, refineIters,
      scaleBits, init = Some(init), convergeDist2 = 0L, onIter = onIter)
    cents.map(_.map(c => (c / scale).toFloat))
  }

  /** The Lloyd iteration itself, over driver-local points — shared by the
    * IVF coarse quantizer and the per-subspace PQ trainers. */
  private def lloyd(
      sample: Array[Array[Float]], k: Int, iters: Int, seed: Long): Array[Array[Float]] = {
    val dim = sample.head.length
    val rnd = new java.util.Random(seed)
    var centroids = Array.fill(k)(sample(rnd.nextInt(sample.length)).clone())
    (1 to iters).foreach { _ =>
      val sums = Array.fill(k)(new Array[Double](dim))
      val counts = new Array[Int](k)
      sample.foreach { v =>
        var best = 0; var bestD = Double.MaxValue
        var c = 0
        while (c < k) {
          var d = 0.0; var i = 0
          while (i < dim) { val t = v(i) - centroids(c)(i); d += t * t; i += 1 }
          if (d < bestD) { bestD = d; best = c }
          c += 1
        }
        counts(best) += 1
        var i = 0
        while (i < dim) { sums(best)(i) += v(i); i += 1 }
      }
      centroids = centroids.indices.map { c =>
        if (counts(c) == 0) centroids(c)
        else sums(c).map(x => (x / counts(c)).toFloat)
      }.toArray
    }
    centroids
  }

  /** Distributed Lloyd k-means in EXACT scaled-integer space — the
    * corpus-scale clustering primitive behind SemDeDup-style semantic
    * dedup and IVF training ([[kmeansCentroids]] trains on a driver
    * SAMPLE; this one runs every iteration over the FULL distributed
    * corpus). Components quantize to `round(x · 2^scaleBits)` longs, so
    * every distance is an exact integer, every argmin has a total order
    * (squared distance, then list id), and every centroid update is an
    * exact floor-divided integer mean — the whole trajectory is a pure
    * function of the corpus, independent of partitioning and float
    * summation order (floating-point Lloyd is neither). Exactness at
    * quantization `2^-scaleBits` is the same contract as the cents/µs
    * conventions elsewhere.
    *
    * Init: the k smallest-id rows (deterministic, caller-predictable —
    * shuffle ids upstream for a random-like seed). Per iteration: one
    * scan-side least-struct argmin (zero shuffle) + one map-side-
    * combined (list_id, dim) sum — k·dim driver rows, nothing else
    * leaves the executors; empty clusters keep their centroid. Returns
    * (final centroids, assignment frame (idCol, list_id)). Guarded
    * loud: dim·(2·max|q|)² must fit a long (the exact-distance bound).
    */
  def kmeansLloydExact(
      corpus: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int, scaleBits: Int = 20,
      /** seed from the k smallest `xxhash64(id)` rows instead of the k
        * smallest ids — still deterministic, but distribution-following
        * (ids are often assigned in crawl/cluster order, making
        * smallest-id seeds geometrically correlated); the IVF trainer
        * ([[kmeansCentroidsExact]]) uses this. */
      seedByHash: Boolean = false,
      /** explicit initial centroids in the SAME quantized-long space
        * (overrides the seed rows) — the sampled-init refinement path
        * ([[kmeansCentroidsRefined]]). */
      init: Option[Array[Array[Long]]] = None,
      /** early exit: stop iterating once NO centroid's exact squared
        * integer movement between iterations exceeds this (0 = exact
        * convergence). Movement is an integer, so the exit decision —
        * like the rest of the trajectory — is a pure function of the
        * corpus. Negative disables (run all `iters`). */
      convergeDist2: Long = -1L,
      /** observer called after each iteration with (iteration,
        * max centroid movement²) — lets callers report how many full
        * scans the early exit actually paid for. */
      onIter: (Int, Long) => Unit = (_, _) => ()): (Array[Array[Long]], DataFrame) = {
    require(k >= 1, s"k must be >= 1: got $k")
    require(iters >= 1, s"iters must be >= 1: got $iters")
    require(scaleBits >= 1 && scaleBits <= 30, s"scaleBits out of range: $scaleBits")
    val scale = (1L << scaleBits).toDouble
    val q = corpus.select(col(idCol).as("id"),
        transform(col(vecCol), x => round(x.cast("double") * scale).cast("long"))
          .as("qv"))
      .persist()
    val head = q.select(size(col("qv")).as("d"),
      aggregate(col("qv"), lit(0L), (m, x) => greatest(m, abs(x))).as("mx"),
      exists(col("qv"), x => x.isNull).as("hn"),
      col("qv").isNull.as("nv"))
      .agg(max("d").as("dim"), min("d").as("dimMin"), max("mx").as("mx"),
        sum(col("hn").cast("long")).as("nullElems"),
        sum(col("nv").cast("long")).as("nullVecs")).head()
    val dim = head.getInt(0)
    val maxAbs = head.getLong(2)
    // guard LOUD before the codegen kernel: KmeansUtil.nearest walks
    // qv[0..dim) against the corpus-max dim — a ragged or null-element
    // vector would read out of bounds / NaN-free garbage SILENTLY where
    // the composed least-struct formula it replaced failed with an NPE
    require(head.getLong(4) == 0L,
      s"kmeans_lloyd_exact: ${head.getLong(4)} rows have a NULL $vecCol")
    require(head.getLong(3) == 0L,
      s"kmeans_lloyd_exact: ${head.getLong(3)} rows have NULL elements in $vecCol")
    require(head.getInt(1) == dim,
      s"kmeans_lloyd_exact: ragged vectors — size($vecCol) ranges " +
        s"${head.getInt(1)}..$dim; the nearest-centroid kernel requires a " +
        "uniform dimensionality")
    require(
      BigInt(dim) * 4 * BigInt(maxAbs max 1L) * BigInt(maxAbs max 1L) <= BigInt(Long.MaxValue),
      s"kmeans_lloyd_exact: dim=$dim at max|q|=$maxAbs would overflow the " +
        "exact integer distance - lower scaleBits or normalize the vectors")
    var cents: Array[Array[Long]] = init match {
      case Some(c0) =>
        require(c0.length == k, s"init has ${c0.length} centroids, need $k")
        require(c0.forall(_.length == dim),
          s"init centroids must all have length $dim (corpus dim): got " +
            s"lengths ${c0.map(_.length).distinct.mkString(",")}")
        c0.map(_.clone())
      case None =>
        (if (seedByHash) q.orderBy(xxhash64(col("id")).asc, col("id").asc)
         else q.orderBy(col("id").asc))
          .limit(k).collect().map(_.getSeq[Long](1).toArray)
    }
    require(cents.length == k, s"corpus has fewer than k=$k rows")
    // codegen'd single-loop argmin over the plan-bound centroid table —
    // the composed least(struct(zip_with…)) formula it replaces ran k
    // interpreted lambda dispatches per row (CodegenFallback) and
    // dominated full-corpus iterations; semantics identical (exact long
    // d², ties to the smaller list index), kernel-vs-formula parity
    // asserted in FunctionsSpec
    def assignExpr: Column =
      graft.functions.GraftFunctions.nearest_centroid(col("qv"), cents)
    var it = 0
    var converged = false
    while (it < iters && !converged) {
      // per-list componentwise sums as dim sum(element_at) columns over a
      // k-row groupBy — NOT a posexplode: exploding multiplies the corpus
      // by dim before the aggregate (64M intermediate rows at 1M×64 and
      // the dominant trainer cost); this shape map-side-combines straight
      // to k×(dim+1) cells. Same exact integer sums either way.
      val aggCols = (0 until dim).map(j =>
        sum(element_at(col("qv"), j + 1)).as(s"s$j")) :+
        count(lit(1)).as("n")
      val rows = q.withColumn("list_id", assignExpr)
        .groupBy("list_id")
        .agg(aggCols.head, aggCols.tail: _*)
        .collect()
      val sums = Array.fill(k, dim)(0L)
      val cnts = Array.fill(k)(0L)
      rows.foreach { r =>
        val list = r.getInt(0)
        var j = 0
        while (j < dim) { sums(list)(j) = r.getLong(j + 1); j += 1 }
        cnts(list) = r.getLong(dim + 1)
      }
      val next = cents.zipWithIndex.map { case (old, i) =>
        if (cnts(i) == 0L) old
        else sums(i).map(s => Math.floorDiv(s, cnts(i)))
      }
      // exact integer movement: each |old−new| ≤ 2·max|q| so the squared
      // sum sits under the same overflow guard as the distances
      val move2 = cents.zip(next).map { case (o, n) =>
        var d = 0L; var i = 0
        while (i < dim) { val t = o(i) - n(i); d += t * t; i += 1 }
        d
      }.max
      cents = next
      it += 1
      onIter(it, move2)
      if (convergeDist2 >= 0L && move2 <= convergeDist2) converged = true
    }
    val assigned = q.withColumn("list_id", assignExpr)
      .select(col("id").as(idCol), col("list_id").cast("long").as("list_id"))
    // released before return: the assignment frame recomputes the
    // quantization on a cache miss, which is exact-integer and therefore
    // safe to replay (unlike a float pipeline, nothing depends on order)
    q.unpersist(blocking = false)
    (cents, assigned)
  }

  /** Assign every corpus row to its nearest centroid (`list_id`) — a
    * greatest-struct argmax over codegen'd cosine columns, no shuffle. */
  def ivfAssign(
      corpus: DataFrame, vecCol: String, centroids: Array[Array[Float]]): DataFrame = {
    val structs = centroids.zipWithIndex.map { case (c, i) =>
      struct(vec_cosine(col(vecCol), typedlit(c.toSeq)).as("cos"), lit(i).as("list_id"))
    }
    corpus.withColumn("list_id", greatest(structs.toIndexedSeq: _*).getField("list_id"))
  }

  /** Materialize the IVF index: the assigned corpus written PARTITIONED by
    * `list_id`, so a probe scan reads only the nProbe/k probed directories
    * (partition pruning, asserted in PlanSpec) — the 100 TB serving shape
    * [[ivfTopK]] computes on the fly. Rewrite when centroids are
    * re-trained; assignment is a scan-side greatest-struct argmax, so the
    * write is a single pass with no shuffle beyond the partitioned sink. */
  def writeIvfIndex(
      corpus: DataFrame, vecCol: String, centroids: Array[Array[Float]],
      dir: String,
      /** also materialize the SQ8 code column (`sq8_code`, 1 byte/dim):
        * enables the [[ivfSq8TopKIndexed]] serving path, whose probe
        * scans read the codes and only touch float vectors for rerank
        * survivors. */
      withSq8Codes: Boolean = false,
      /** also materialize the PQ code column (`pq_code`, m bytes): codes
        * are RESIDUAL codes (vector − its list centroid, the FAISS
        * IVF-PQ coding — train the codebooks with
        * [[pqCodebooksResidual]]); enables [[ivfPqTopKIndexed]]. */
      pqCodebooksOpt: Option[Array[Array[Array[Float]]]] = None,
      /** extra (columnName → residual codebooks) PQ variants written
        * beside `pq_code` — e.g. an m=32 high-recall column next to the
        * m=16 default, so one index serves both recall/bytes trades;
        * probe with [[ivfPqTopKIndexed]]`(codeCol = ...)`. */
      pqVariants: Seq[(String, Array[Array[Array[Float]]])] = Nil,
      /** rotated (OPQ-lite) PQ variants: (columnName, rotation matrix from
        * [[randomRotation]], codebooks trained with the SAME rotation via
        * [[pqCodebooksResidual]]`(rotation = …)`). The residual rotates
        * scan-side ([[graft.functions.MatVec]]) before encoding. */
      pqRotatedVariants: Seq[(String, Array[Float], Array[Array[Array[Float]]])] = Nil): Unit = {
    // cluster by list BEFORE the partitioned write: without this every
    // shuffle partition contributes a file to every list directory
    // (lists × partitions tiny files — 8k files at 256 lists × 32
    // partitions), and per-file open cost dominates probe latency. One
    // hash exchange at build time makes each list exactly ONE file, so a
    // probe of nProbe lists opens nProbe files.
    indexedFrame(corpus, vecCol, centroids, withSq8Codes,
      pqCodebooksOpt, pqVariants, pqRotatedVariants)
      .repartition(col("list_id"))
      .sortWithinPartitions("list_id")
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .partitionBy("list_id").parquet(dir)
    writeListManifest(dir)
  }

  /** Incrementally APPEND new vectors to an existing index — the only
    * index-maintenance shape that survives 100 TB (a full rebuild per
    * ingest batch re-reads the corpus). The caller passes the SAME
    * trained centroids/codebooks the index was built with — assignment
    * and codes are pure functions of (vector, trained params), so an
    * appended index is row-identical to a from-scratch rebuild over the
    * union (asserted in RecallSpec). Each append adds at most one file
    * per touched list; the manifest is rewritten to include them.
    * Re-train (and rebuild) when drift makes the coarse quantizer stale —
    * that event is corpus-wide by nature. */
  def appendToIvfIndex(
      newVectors: DataFrame, vecCol: String, centroids: Array[Array[Float]],
      dir: String,
      withSq8Codes: Boolean = false,
      pqCodebooksOpt: Option[Array[Array[Array[Float]]]] = None,
      pqVariants: Seq[(String, Array[Array[Array[Float]]])] = Nil,
      pqRotatedVariants: Seq[(String, Array[Float], Array[Array[Array[Float]]])] = Nil): Unit = {
    indexedFrame(newVectors, vecCol, centroids, withSq8Codes,
      pqCodebooksOpt, pqVariants, pqRotatedVariants)
      .repartition(col("list_id"))
      .sortWithinPartitions("list_id")
      .write.mode(org.apache.spark.sql.SaveMode.Append)
      .partitionBy("list_id").parquet(dir)
    writeListManifest(dir)
  }

  /** The assignment + code-column construction shared by build and
    * append. */
  private def indexedFrame(
      corpus: DataFrame, vecCol: String, centroids: Array[Array[Float]],
      withSq8Codes: Boolean,
      pqCodebooksOpt: Option[Array[Array[Array[Float]]]],
      pqVariants: Seq[(String, Array[Array[Array[Float]]])],
      pqRotatedVariants: Seq[(String, Array[Float], Array[Array[Array[Float]]])]): DataFrame = {
    val assigned = ivfAssign(corpus, vecCol, centroids)
    val withSq8 =
      if (withSq8Codes) assigned.withColumn("sq8_code", sq8_encode(col(vecCol)))
      else assigned
    val allPq = pqCodebooksOpt.map(("pq_code", _)).toSeq ++ pqVariants
    if (allPq.isEmpty && pqRotatedVariants.isEmpty) withSq8
    else {
      // residual = vec − centroid(list_id) in RAW space (matches
      // [[pqCodebooksResidual]]): the per-list centroid rides a
      // broadcast dim frame; the subtraction is a codegen'd zip_with
      import corpus.sparkSession.implicits._
      val centDf = broadcast(
        centroids.zipWithIndex.map { case (c, i) => (i, c.toSeq) }.toSeq
          .toDF("list_id", "__cent"))
      def residual =
        zip_with(col(vecCol), col("__cent"), (a, b) => a - b).cast("array<float>")
      val withPlain = allPq.foldLeft(withSq8.join(centDf, Seq("list_id"))) {
        case (df, (name, cb)) =>
          df.withColumn(name,
            pq_encode(residual, pqFlatten(cb), cb.length, cb.head.length))
      }
      pqRotatedVariants.foldLeft(withPlain) {
        case (df, (name, rot, cb)) =>
          df.withColumn(name,
            pq_encode(mat_vec(residual, rot),
              pqFlatten(cb), cb.length, cb.head.length))
      }.drop("__cent")
    }
  }

  /** list_id → parquet-file manifest, written once at index build: probe
    * reads resolve their leaf files from this table instead of listing the
    * partition directories — on an object store at 100 TB a recursive
    * LIST per query is the dominant fixed cost of a probe, and even
    * locally it floors single-query latency (measured in SCALE.md). The
    * `_`-prefixed name keeps it invisible to parquet readers. */
  private def manifestFile(indexDir: String): java.io.File =
    new java.io.File(indexDir, "_ann_list_files.tsv")

  private def writeListManifest(indexDir: String): Unit = {
    val base = new java.io.File(indexDir)
    val lines = base.listFiles().toSeq
      .filter(f => f.isDirectory && f.getName.startsWith("list_id="))
      .sortBy(_.getName)
      .flatMap { d =>
        val listId = d.getName.stripPrefix("list_id=")
        d.listFiles().toSeq.filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
          .map(f => s"$listId\t${d.getName}/${f.getName}")
      }
    java.nio.file.Files.writeString(
      manifestFile(indexDir).toPath, lines.mkString("\n"))
  }

  /** Partition-pruned read of the probed lists: manifest-backed when the
    * index carries `_ann_list_files.tsv` (explicit leaf files + basePath,
    * zero directory listing), falling back to a `list_id IN (...)`
    * partition filter for indexes built before the manifest existed. */
  def readProbedLists(
      spark: org.apache.spark.sql.SparkSession, indexDir: String,
      lists: Seq[Int]): DataFrame = {
    val mf = manifestFile(indexDir)
    if (mf.exists()) {
      val byList: Map[Int, Seq[String]] = scala.io.Source.fromFile(mf).getLines()
        .filter(_.nonEmpty).toSeq
        .map { l => val Array(id, rel) = l.split("\t", 2); (id.toInt, rel) }
        .groupBy(_._1).map { case (k, v) => (k, v.map(_._2)) }
      val files = lists.flatMap(l => byList.getOrElse(l, Nil))
        .map(rel => s"$indexDir/$rel")
      if (files.isEmpty)
        Tables.open(spark, indexDir).filter(col("list_id").isin(lists: _*))
      else
        spark.read.option("basePath", indexDir).parquet(files: _*)
    } else
      Tables.open(spark, indexDir).filter(col("list_id").isin(lists: _*))
  }

  /** IVF top-k over a materialized [[writeIvfIndex]] directory: identical
    * results to the on-the-fly [[ivfTopK]] (equivalence-tested), but the
    * scan is partition-pruned to the probed lists. */
  def ivfTopKIndexed(
      spark: org.apache.spark.sql.SparkSession, indexDir: String,
      idCol: String, vecCol: String, query: Seq[Float],
      k: Int, centroids: Array[Array[Float]], nProbe: Int): DataFrame = {
    val probeLists = probedLists(centroids, query, nProbe)
    readProbedLists(spark, indexDir, probeLists)
      .select(col(idCol), vec_cosine(col(vecCol), typedlit(query)).as("cosine"))
      .orderBy(col("cosine").desc, col(idCol).asc)
      .limit(k)
  }

  /** IVF-SQ8 serving path (FAISS's IVF+SQ8 shape without leaving
    * parquet + Catalyst): partition-pruned scan of the nProbe probed
    * lists in a [[writeIvfIndex]] `withSq8Codes` directory, integer
    * code-dot prefilter to `overfetch * k` candidates, exact-cosine
    * rerank. The probe thus reads (nProbe/k-lists) of the corpus and
    * scores it at 1 byte/dim; float vectors only matter for the bounded
    * rerank set. */
  def ivfSq8TopKIndexed(
      spark: org.apache.spark.sql.SparkSession, indexDir: String,
      idCol: String, vecCol: String, query: Seq[Float],
      k: Int, centroids: Array[Array[Float]], nProbe: Int,
      overfetch: Int = 4): DataFrame = {
    val probeLists = probedLists(centroids, query, nProbe)
    val pruned = readProbedLists(spark, indexDir, probeLists)
    // two-scan shape (see [[ivfPqTopKIndexed]]): the code prefilter scan
    // must NOT read the float vectors, or it costs more than brute force
    val qCodes = lit(Sq8Util.encodeFloats(query.toArray))
    val survivorIds = pruned
      .select(col(idCol), sq8_dot(col("sq8_code"), qCodes).as("score"))
      .orderBy(col("score").desc, col(idCol).asc)
      .limit(math.max(k, overfetch * k))
      .select(col(idCol))
      .collect().map(_.getLong(0)).toSeq
    pruned
      .filter(col(idCol).isin(survivorIds: _*))
      .select(col(idCol), vec_cosine(col(vecCol), typedlit(query)).as("cosine"))
      .orderBy(col("cosine").desc, col(idCol).asc)
      .limit(k)
  }

  /** Batched IVF-SQ8 serving — the probe shape that makes the index pay
    * its rent: Q queries share ONE two-scan job over the UNION of their
    * probed lists, so the fixed per-job cost (driver scheduling, file
    * resolution — manifest-backed, no directory listing) amortizes
    * across the batch while each (row, query) pair is still scored only
    * when the query actually probes that row's list.
    *
    * Plan: queries explode driver-side to broadcast (q_id, list_id)
    * probe pairs; the pruned code scan equi-joins on `list_id`
    * (broadcast hash join — the corpus never shuffles), integer code
    * dots feed a map-side [[BoundedTopK]] per query, and the
    * `overfetch·k` survivor ids broadcast back for the exact-cosine
    * rerank — [[sq8TopKJoin]]'s two-phase shape with IVF pruning in
    * front. Output matches [[topKJoin]]: (q_id, idCol, rnk, cosine). */
  def ivfSq8TopKJoinIndexed(
      spark: org.apache.spark.sql.SparkSession, indexDir: String,
      idCol: String, vecCol: String,
      queries: Seq[(Long, Array[Float])], k: Int,
      centroids: Array[Array[Float]], nProbe: Int,
      overfetch: Int = 4, excludeSelf: Boolean = false): DataFrame = {
    import spark.implicits._
    // per-query probe lists are a driver-side |Q|·lists·dim compute —
    // the same work the single-query path does once, batched
    val qProbe = queries.map { case (qid, qv) =>
      (qid, qv, probedLists(centroids, qv.toSeq, nProbe))
    }
    val allLists = qProbe.flatMap(_._3).distinct
    val pruned = readProbedLists(spark, indexDir, allLists)
    val probePairs = broadcast(
      qProbe.flatMap { case (qid, _, ls) => ls.map(l => (qid, l)) }
        .toDF("__q_id", "list_id"))
    val qCodes = broadcast(
      qProbe.map { case (qid, qv, _) => (qid, Sq8Util.encodeFloats(qv)) }
        .toDF("__q_id", "__q_code"))
    // scan 1: (list_id, id, sq8_code) only — never the float vectors
    val scored0 = pruned
      .select(col("list_id"), col(idCol), col("sq8_code"))
      .join(probePairs, Seq("list_id"))
      .join(qCodes, Seq("__q_id"))
    val scored =
      if (excludeSelf) scored0.filter(col(idCol) =!= col("__q_id")) else scored0
    val survivors = scored
      .withColumn("__qs", sq8_dot(col("sq8_code"), col("__q_code")).cast("double"))
      .groupBy(col("__q_id"))
      .agg(TopK.topkAgg(math.max(k, overfetch * k))(col("__qs"), col(idCol).cast("long"))
        .as("topk"))
      .select(col("__q_id"), explode(col("topk.id")).as("__c_id"))
    // scan 2: float vectors for the bounded survivor set alone
    val qVecs = broadcast(
      qProbe.map { case (qid, qv, _) => (qid, qv.toSeq) }
        .toDF("__q_id", "__q_vec")
        .withColumn("__q_vec", col("__q_vec").cast("array<float>")))
    pruned.select(col(idCol), col(vecCol))
      .join(broadcast(survivors), col(idCol).cast("long") === col("__c_id"))
      .join(qVecs, Seq("__q_id"))
      .withColumn("__cos", vec_cosine(col(vecCol), col("__q_vec")))
      .groupBy(col("__q_id"))
      .agg(TopK.topkAgg(k)(col("__cos"), col(idCol).cast("long")).as("topk"))
      .select(col("__q_id").as("q_id"), posexplode(col("topk")))
      .select(
        col("q_id"), col("col.id").as(idCol),
        (col("pos") + 1).as("rnk"), col("col.score").as("cosine"))
  }

  /** Per-group embedding centroids (the class-centroid / prototype
    * builder behind centroid classifiers, SemDeDup cluster seeds, and
    * label-balance diagnostics): mean vector per group, computed by
    * dimension — `posexplode` to (group, dim, component), aggregate,
    * rebuild the array with `array_agg` ordered by dim.
    *
    * Exactness: a float/double sum is shuffle-order-dependent (and
    * engine-dependent), so components first quantize to 2^-20 fixed
    * point — `floor(x · 2^20)` on the exactly-widened double, an
    * IEEE-exact product + deterministic floor — and the sum is an exact
    * Long (order-independent); ONE double division recovers the mean.
    * The ≤ 2^-20 per-component bias is far below embedding noise, and
    * the result is bit-reproducible anywhere.
    *
    * 100 TB shape: the explode multiplies rows by dim but each carries
    * (group, int, long) — columnar-cheap; the aggregate partial runs
    * map-side, so the exchange moves |groups|·dim partial rows per
    * partition, never the corpus. */
  def groupCentroids(
      df: DataFrame, groupCol: String, vecCol: String): DataFrame =
    groupCentroidsByDim(df, groupCol, vecCol)
      .groupBy(col(groupCol))
      .agg(
        transform(
          array_sort(collect_list(struct(col("dim"), col("m")))),
          s => s.getField("m")).as("centroid"),
        max("n_vectors").as("n_vectors"))

  /** [[groupCentroids]] in long form — one row per (group, dim), scalar
    * columns only (the oracle-comparable shape). */
  def groupCentroidsByDim(
      df: DataFrame, groupCol: String, vecCol: String): DataFrame =
    df
      .select(col(groupCol), posexplode(col(vecCol)).as(Seq("dim", "x")))
      .groupBy(col(groupCol), col("dim"))
      .agg(
        (sum(floor(col("x").cast("double") * lit(1048576.0)).cast("long"))
          .cast("double") / (count(lit(1)) * lit(1048576.0))).as("m"),
        count(lit(1)).as("n_vectors"))

  /** Nearest-centroid label assignment + label-noise flagging — the
    * embedding-space QC pass a curation pipeline runs over labeled data
    * (mislabeled rows sit closer to another class's centroid; Northcutt
    * et al.'s confident-learning intuition in its geometric form):
    * build per-label centroids ([[groupCentroidsByDim]]), score every
    * vector against every centroid, argmax, and flag rows whose
    * predicted label differs from their own.
    *
    * Exactness (the d5/s6 discipline): vector components and centroid
    * means both quantize to 2^-20 fixed point, so each (vector,
    * centroid) dot product and each centroid norm is an EXACT Long
    * accumulated in any order; the ranking score
    * `dot / sqrt(centroid_norm)` (the cosine with the vector's own norm
    * cancelled — it is constant within the argmax) takes exactly two
    * deterministic IEEE ops, so the argmax and the score itself
    * hash-match a relational oracle. Ties break to the lowest label.
    *
    * 100 TB shape: centroids are |labels|·dim rows — a broadcast-sized
    * dim table; the vector side explodes per dim but aggregates
    * map-side; no corpus self-join, no window over a constant. */
  def nearestCentroidLabels(
      df: DataFrame, idCol: String, labelCol: String, vecCol: String): DataFrame = {
    val q = lit(1048576.0) // 2^20
    val cents = groupCentroidsByDim(df, labelCol, vecCol)
      .select(col(labelCol).as("c_label"), col("dim"),
        floor(col("m") * q).cast("long").as("qm"))
    val cnorm = cents.groupBy("c_label")
      .agg(sum(col("qm") * col("qm")).as("c_norm"))
    val vecs = df
      .select(col(idCol), col(labelCol), posexplode(col(vecCol)).as(Seq("dim", "x")))
      .withColumn("qx", floor(col("x").cast("double") * q).cast("long"))
    val dots = vecs
      .join(broadcast(cents), Seq("dim"))
      .groupBy(col(idCol), col(labelCol), col("c_label"))
      .agg(sum(col("qx") * col("qm")).as("dot"))
      .join(broadcast(cnorm), Seq("c_label"))
      // score = dot/√centroid_norm: cosine up to the vector's own norm,
      // which is constant within a vector's argmax
      .withColumn("score",
        col("dot").cast("double") / sqrt(col("c_norm").cast("double")))
    dots
      .groupBy(col(idCol), col(labelCol))
      .agg(max(struct(col("score"), (-col("c_label")).as("neg_label"))).as("best"))
      .select(
        col(idCol), col(labelCol),
        (-col("best.neg_label")).as("pred_label"),
        col("best.score").as("pred_score"))
      .withColumn("is_noise", col("pred_label") =!= col(labelCol))
  }

  /** Train PQ codebooks (the FAISS product-quantizer trainer shape): the
    * embedding dimension splits into `m` equal subspaces, and each
    * subspace gets its own `ksub`-centroid Lloyd k-means over a
    * driver-side bounded sample's subvectors. Deterministic for a fixed
    * seed. Returns `[m][ksub][dim/m]`. */
  def pqCodebooks(
      corpus: DataFrame, vecCol: String, m: Int, ksub: Int, iters: Int,
      seed: Long, sampleN: Int = 2000): Array[Array[Array[Float]]] = {
    val sample = corpus.select(col(vecCol)).limit(sampleN)
      .collect().map(_.getSeq[Float](0).toArray)
    require(sample.nonEmpty, "empty corpus")
    val dim = sample.head.length
    require(dim % m == 0, s"dim $dim must divide into m=$m subspaces")
    val subDim = dim / m
    Array.tabulate(m) { s =>
      val sub = sample.map(v => java.util.Arrays.copyOfRange(v, s * subDim, (s + 1) * subDim))
      // per-subspace seed: independent initializations across subspaces
      lloyd(sub, ksub, iters, seed + s)
    }
  }

  /** Train PQ codebooks on IVF RESIDUALS (vector − its list centroid) —
    * the coding FAISS's IVF-PQ actually uses, and the detail that makes
    * it work on clustered data: raw-vector codebooks spend their ksub
    * centroids re-describing the cluster structure the coarse quantizer
    * already captured, leaving no resolution for within-cluster
    * differences (measured: recall@10 0.22 raw vs 0.99+ residual on a
    * clustered corpus). Residuals are cluster-free, so the codebooks
    * spend their bits where the coarse quantizer is blind. */
  def pqCodebooksResidual(
      corpus: DataFrame, vecCol: String, centroids: Array[Array[Float]],
      m: Int, ksub: Int, iters: Int, seed: Long,
      sampleN: Int = 2000,
      /** OPQ-lite: rotate residuals by this [[randomRotation]] before the
        * subspace split (codes must then be built over the SAME rotation —
        * [[writeIvfIndex]] `pqRotatedVariants` / [[ivfPqTopKIndexed]]
        * `rotation`). */
      rotation: Option[Array[Float]] = None): Array[Array[Array[Float]]] = {
    val sample = corpus.select(col(vecCol)).limit(sampleN)
      .collect().map(_.getSeq[Float](0).toArray)
    require(sample.nonEmpty, "empty corpus")
    val dim = sample.head.length
    require(dim % m == 0, s"dim $dim must divide into m=$m subspaces")
    // RAW-space residuals (v − c): codes describe the vector's offset
    // from its list centroid, the part the coarse quantizer is blind to.
    // (A unit-normalized residual variant was measured and REJECTED:
    // projecting onto the sphere makes residual magnitude comparable to
    // the signal itself — ‖v̂−ĉ‖ ≈ 0.76 with ‖v̂‖ = 1 — so the same code
    // budget buys far less resolution; raw-space coding measured 2-3×
    // the recall at identical settings.)
    val residuals = sample.map { v =>
      val c = centroids(nearestCentroid(centroids, v))
      val r = Array.tabulate(dim)(i => v(i) - c(i))
      rotation.map(rotate(_, r)).getOrElse(r)
    }
    val subDim = dim / m
    Array.tabulate(m) { s =>
      val sub = residuals.map(r => java.util.Arrays.copyOfRange(r, s * subDim, (s + 1) * subDim))
      lloyd(sub, ksub, iters, seed + s)
    }
  }


  /** Seeded random ORTHONORMAL rotation (OPQ-lite): a Gaussian matrix
    * orthogonalized by modified Gram-Schmidt, flattened row-major for the
    * [[graft.functions.MatVec]] plan constant. OPQ proper LEARNS the
    * rotation minimizing quantization error; the random rotation is its
    * training-free 80% answer — it evens variance across PQ subspaces, so
    * codebook bits stop being wasted when a few dimensions carry most of
    * the signal. Orthonormality means rotation commutes with dot products
    * (dot(q, r) = dot(R·q, R·r)), which is what lets the ADC path score
    * rotated codes with a rotated-query LUT and leave the dot(q, c_list)
    * offset untouched. */
  def randomRotation(dim: Int, seed: Long): Array[Float] = {
    val rnd = new java.util.Random(seed)
    val rows = Array.fill(dim)(Array.fill(dim)(rnd.nextGaussian()))
    var i = 0
    while (i < dim) {
      var j = 0
      while (j < i) { // subtract projection onto earlier rows
        var d = 0.0
        var k = 0
        while (k < dim) { d += rows(i)(k) * rows(j)(k); k += 1 }
        k = 0
        while (k < dim) { rows(i)(k) -= d * rows(j)(k); k += 1 }
        j += 1
      }
      var n = 0.0
      var k = 0
      while (k < dim) { n += rows(i)(k) * rows(i)(k); k += 1 }
      val inv = 1.0 / math.sqrt(n)
      k = 0
      while (k < dim) { rows(i)(k) *= inv; k += 1 }
      i += 1
    }
    rows.flatten.map(_.toFloat)
  }

  /** Driver-side rotation of one vector by a row-major flattened matrix. */
  def rotate(matrix: Array[Float], v: Array[Float]): Array[Float] =
    graft.functions.PqUtil.matVecFloats(v, matrix)

  /** L2-nearest centroid index (driver-side helper). */
  private def nearestCentroid(centroids: Array[Array[Float]], v: Array[Float]): Int = {
    var best = 0
    var bestD = Double.MaxValue
    var c = 0
    while (c < centroids.length) {
      var d = 0.0
      var i = 0
      while (i < v.length) {
        val t = v(i).toDouble - centroids(c)(i)
        d += t * t
        i += 1
      }
      if (d < bestD) { bestD = d; best = c }
      c += 1
    }
    best
  }

  /** Flatten `[m][ksub][subDim]` codebooks row-major for the plan-bound
    * [[graft.functions.PqEncode]] constant. */
  def pqFlatten(codebooks: Array[Array[Array[Float]]]): Array[Float] =
    codebooks.flatten.flatten

  /** The query's ADC lookup table: `lut[s·ksub + c] = dot(q_sub(s),
    * centroid_c)` — so summing one entry per subspace approximates
    * `dot(query, vector)` by `dot(query, decode(code))`. */
  def pqLut(codebooks: Array[Array[Array[Float]]], query: Seq[Float]): Array[Double] = {
    val m = codebooks.length
    val ksub = codebooks.head.length
    val subDim = codebooks.head.head.length
    val lut = new Array[Double](m * ksub)
    var s = 0
    while (s < m) {
      var c = 0
      while (c < ksub) {
        var d = 0.0
        var i = 0
        while (i < subDim) { d += query(s * subDim + i).toDouble * codebooks(s)(c)(i); i += 1 }
        lut(s * ksub + c) = d
        c += 1
      }
      s += 1
    }
    lut
  }

  /** PQ top-k against one query vector (FAISS's PQ flat-scan shape):
    * corpus vectors encode to `m` bytes ([[graft.functions.PqEncode]] —
    * at 100 TB the code column would be materialized once and scanned
    * instead of the floats: 8 bytes/vector at m=8 vs 256 for float32),
    * each row scores with `m` lookup-table adds
    * ([[graft.functions.PqAdc]]), and the top `overfetch·k` ADC
    * candidates rerank by exact cosine — the standard two-stage ANN
    * refinement. Output: (idCol, cosine). */
  def pqTopK(
      corpus: DataFrame, idCol: String, vecCol: String, query: Seq[Float],
      k: Int, codebooks: Array[Array[Array[Float]]], overfetch: Int = 4,
      /** name of a PRE-MATERIALIZED code column — skips the on-the-fly
        * encode so the scan touches m bytes/row until the rerank. */
      codeCol: Option[String] = None): DataFrame = {
    val m = codebooks.length
    val ksub = codebooks.head.length
    val flat = pqFlatten(codebooks)
    val lut = pqLut(codebooks, query)
    corpus
      .select(
        col(idCol), col(vecCol).as("__v"),
        pq_adc(
          codeCol.map(col).getOrElse(pq_encode(col(vecCol), flat, m, ksub)),
          lut, ksub).as("score"))
      .orderBy(col("score").desc, col(idCol).asc)
      .limit(math.max(k, overfetch * k))
      .select(col(idCol), vec_cosine(col("__v"), typedlit(query)).as("cosine"))
      .orderBy(col("cosine").desc, col(idCol).asc)
      .limit(k)
  }

  /** IVF-PQ serving path (FAISS's IVF-PQ shape without leaving parquet +
    * Catalyst): partition-pruned scan of the nProbe probed lists in a
    * [[writeIvfIndex]] `pqCodebooksOpt` directory, ADC lookup-table
    * prefilter over the m-byte RESIDUAL codes, exact cosine rerank. The
    * prefilter score decomposes as
    * `dot(q, v) ≈ dot(q, c_list) + dot(q, residual)`: the first term is
    * one precomputed constant per probed list (a plan-literal CASE over
    * ≤ nProbe branches), the second is the ADC sum over the residual
    * codebooks — so cross-list candidates compare on a common scale. The
    * probe reads (nProbe/k-lists) of the corpus at m bytes/vector — the
    * most compressed scan in the family (16 bytes at m=16 vs 64 for SQ8,
    * 256 for float32). */
  def ivfPqTopKIndexed(
      spark: org.apache.spark.sql.SparkSession, indexDir: String,
      idCol: String, vecCol: String, query: Seq[Float],
      k: Int, centroids: Array[Array[Float]],
      codebooks: Array[Array[Array[Float]]], nProbe: Int,
      overfetch: Int = 4,
      /** which materialized PQ code column to score — `pq_code` by
        * default, or a [[writeIvfIndex]] `pqVariants` column (e.g. the
        * m=32 high-recall codes). Must match `codebooks`' shape. */
      codeCol: String = "pq_code",
      /** the [[randomRotation]] the `codeCol` codes were built over, if
        * any: the ADC LUT is computed from the ROTATED query (dot
        * products commute with an orthonormal rotation, so the
        * dot(q, c_list) offset and the exact-cosine rerank are
        * untouched). */
      rotation: Option[Array[Float]] = None): DataFrame = {
    val probeLists = probedLists(centroids, query, nProbe)
    val ksub = codebooks.head.length
    val lut = pqLut(codebooks,
      rotation.map(rotate(_, query.toArray).toSeq).getOrElse(query))
    // dot(q, c_list) per probed list (raw-space coding, see
    // [[pqCodebooksResidual]]) — driver-computed plan constants
    def qcDot(c: Array[Float]): Double = {
      var d = 0.0
      var i = 0
      while (i < c.length) { d += query(i).toDouble * c(i); i += 1 }
      d
    }
    val listOffset = probeLists.tail.foldLeft(
      when(col("list_id") === probeLists.head, lit(qcDot(centroids(probeLists.head))))) {
      (acc, l) => acc.when(col("list_id") === l, lit(qcDot(centroids(l))))
    }.otherwise(lit(0.0))
    // TWO-SCAN shape — this is what makes the probe actually cheaper than
    // brute force: scan 1 projects ONLY (list_id, id, code) — m+12 bytes
    // per row against the float scan's 4·dim — and TakeOrdereds the ADC
    // survivors; their ids (a bounded overfetch·k driver collect) push
    // back down as an id filter for scan 2, which touches float vectors
    // for the survivors alone. Carrying the vectors through scan 1 (the
    // obvious single-scan plan) reads MORE bytes than the brute scan —
    // measured 3× slower at 1M vectors.
    val pruned = readProbedLists(spark, indexDir, probeLists)
    val survivorIds = pruned
      .select(col(idCol),
        (listOffset + pq_adc(col(codeCol), lut, ksub)).as("score"))
      .orderBy(col("score").desc, col(idCol).asc)
      .limit(math.max(k, overfetch * k))
      .select(col(idCol))
      .collect().map(_.getLong(0)).toSeq
    pruned
      .filter(col(idCol).isin(survivorIds: _*))
      .select(col(idCol), vec_cosine(col(vecCol), typedlit(query)).as("cosine"))
      .orderBy(col("cosine").desc, col(idCol).asc)
      .limit(k)
  }

  /** The nProbe centroid ids closest (by cosine) to the query — shared by
    * the on-the-fly and indexed probe paths. */
  private def probedLists(
      centroids: Array[Array[Float]], query: Seq[Float], nProbe: Int): Seq[Int] = {
    def cos(a: Array[Float], b: Seq[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        d += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i); i += 1
      }
      if (na == 0 || nb == 0) 0.0 else d / math.sqrt(na * nb)
    }
    centroids.zipWithIndex
      .map { case (c, i) => (cos(c, query), i) }
      .sortBy(-_._1).take(nProbe).map(_._2).toSeq
  }

  /** IVF top-k: probe the nProbe centroid lists closest to the query, then
    * exact cosine within those lists — the on-the-fly form of
    * [[ivfTopKIndexed]] for corpora not worth materializing. */
  /** Metadata-FILTERED vector search, exact path — the vector-database
    * WHERE clause: apply the predicate scan-side (it pushes into the
    * parquet scan like any filter), brute-score the survivors, keep k.
    * Correct at ANY filter selectivity — the comparison every
    * filtered-ANN variant is measured against. At 100 TB this is the
    * right plan whenever the predicate is selective enough that the
    * surviving scan fits the latency budget (the filter prunes BEFORE
    * any vector math runs). */
  def filteredTopK(
      corpus: DataFrame, idCol: String, vecCol: String,
      predicate: Column, query: Seq[Float], k: Int): DataFrame =
    bruteForceTopK(corpus.filter(predicate), idCol, vecCol, query, k)

  /** Metadata-filtered IVF search — predicate applied INSIDE the probed
    * lists (pre-filter within probes): the probe cut keeps the scan at
    * `nProbe/nLists` of the corpus, the predicate prunes candidates
    * before scoring, and `overfetch·k` guards the boundary where a
    * selective filter empties the nearest lists. Recall degrades as
    * selectivity × nProbe shrinks — measured in RecallSpec; raise
    * nProbe (not overfetch) when the filter is sharp, because missing
    * matches live in unprobed lists, not below the overfetch cut. */
  def filteredIvfTopK(
      corpus: DataFrame, idCol: String, vecCol: String,
      predicate: Column, query: Seq[Float], k: Int,
      centroids: Array[Array[Float]], nProbe: Int): DataFrame = {
    val probeLists = probedLists(centroids, query, nProbe)
    ivfAssign(corpus, vecCol, centroids)
      .filter(col("list_id").isin(probeLists: _*))
      .filter(predicate)
      .select(col(idCol), vec_cosine(col(vecCol), typedlit(query)).as("cosine"))
      .orderBy(col("cosine").desc, col(idCol).asc)
      .limit(k)
  }

  def ivfTopK(
      corpus: DataFrame, idCol: String, vecCol: String, query: Seq[Float],
      k: Int, centroids: Array[Array[Float]], nProbe: Int): DataFrame = {
    val probeLists = probedLists(centroids, query, nProbe)
    ivfAssign(corpus, vecCol, centroids)
      .filter(col("list_id").isin(probeLists: _*))
      .select(col(idCol), vec_cosine(col(vecCol), typedlit(query)).as("cosine"))
      .orderBy(col("cosine").desc, col(idCol).asc)
      .limit(k)
  }

  /** IVF-style ANN: assign corpus rows to hyperplane buckets once; probe
    * only the query's bucket. Recall traded for a `2^planes` scan cut.
    *
    * `multiProbe`: also probe every bucket at Hamming distance ≤ 1 from
    * the query signature (the standard multi-probe LSH recall lever —
    * near-neighbors straddling ONE hyperplane land one bit away). At
    * scale this turns one bucket read into `planes + 1` bucket reads,
    * still exponentially cheaper than the full scan; with the corpus
    * written bucketed by `sig`, each probe is partition-pruned. */
  def lshTopK(
      corpus: DataFrame, idCol: String, vecCol: String,
      query: Seq[Float], k: Int, planes: Int, seed: Long,
      multiProbe: Boolean = false,
      /** Use the md5-derived ±1 family ([[md5SignPlanes]]) so an SQL
        * oracle reproduces the buckets bit-for-bit. */
      md5Family: Boolean = false): DataFrame = {
    val dim = query.length
    val ps =
      if (md5Family) md5SignPlanes(dim, planes, seed)
      else randomPlanes(dim, planes, seed)
    val sigCol = signatureOf(col(vecCol), ps)
    val querySig = (0 until planes).map { i =>
      val dot = ps(i).zip(query).map { case (a, b) => a.toDouble * b.toDouble }.sum
      if (dot > 0) 1L << i else 0L
    }.sum
    val probeSigs =
      if (!multiProbe) Seq(querySig)
      else querySig +: (0 until planes).map(i => querySig ^ (1L << i))
    corpus
      .withColumn("sig", sigCol)
      .filter(col("sig").isin(probeSigs: _*))
      .select(col(idCol), vec_cosine(col(vecCol), typedlit(query)).as("cosine"))
      .orderBy(col("cosine").desc, col(idCol).asc)
      .limit(k)
  }
}
