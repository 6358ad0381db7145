package graft

import graft.operators.{BoundedTopK, Dedup, Graph, ScoredId, TopK, TopKBuf}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Unit coverage for the round-2 additions that previously had only
  * transitive oracle coverage: the BoundedTopK partial-merge aggregate and
  * the DF-ceilinged token-overlap candidate join.
  */
class TopKDedupSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark
  import spark.implicits._

  private def finishOf(agg: BoundedTopK, items: Seq[ScoredId]): Seq[ScoredId] =
    agg.finish(items.foldLeft(agg.zero)(agg.reduce))

  test("BoundedTopK.reduce: buffer stays bounded (compacts at 2k), finish sorts") {
    val agg = new BoundedTopK(3)
    val items = (1 to 100).map(i => ScoredId(i.toDouble, i.toLong))
    val buf = items.foldLeft(agg.zero)(agg.reduce)
    assert(buf.items.size < 6, s"buffer must stay bounded, was ${buf.items.size}")
    assert(agg.finish(buf).map(_.id) === Seq(100L, 99L, 98L))
  }

  test("bm25TopK: non-long id columns survive the driver-side rank stamping") {
    // regression: the rank stamping used to hardcode getLong(0) — a
    // string/int id threw ClassCastException at collect time even though
    // the signature accepts any idCol
    val docs = Seq(
      ("docA", "spark join spark"),
      ("docB", "spark only"),
      ("docC", "nothing relevant")).toDF("id", "text")
    val r = graft.operators.TextAnalysis
      .bm25TopK(docs, "id", "text", Seq("spark"), k = 2)
      .collect().map(x => (x.getLong(0), x.getString(1), x.getLong(2)))
    assert(r.toSeq === Seq((1L, "docA", 2L), (2L, "docB", 1L)))
    // and the id field keeps its original type in the schema
    val sch = graft.operators.TextAnalysis
      .bm25TopK(docs, "id", "text", Seq("spark"), k = 2).schema
    assert(sch("id").dataType === org.apache.spark.sql.types.StringType)
  }

  test("pmiPairs: exact ratios on a hand corpus; BIGINT-overflow guard fails loud, not wrapped") {
    // "x y" appears twice, each token twice, N_tok = 8, N_pair = 6:
    // ratio(x,y) = 2*64 / (6*2*2) = 16/3
    val docs = Seq("x y a b", "x y c d").toDF("text")
    val r = graft.operators.TextAnalysis.pmiPairs(docs, "text", minCount = 2L, k = 1)
      .collect().head
    assert((r.getString(0), r.getString(1), r.getLong(2)) === (("x", "y", 2L)))
    assert(r.getLong(5) === 2L * 8 * 8 && r.getLong(6) === 6L * 2 * 2)
    // a corpus whose n*nt^2 exceeds BIGINT must fail LOUD (the old Long
    // arithmetic wrapped silently): 3M repeated tokens -> 2.7e19 > 2^63
    val big = Seq(("a " * 3000000).trim).toDF("text")
    val ex = intercept[Exception] {
      graft.operators.TextAnalysis.pmiPairs(big, "text", minCount = 2L, k = 1).collect()
    }
    assert(ex.getMessage != null && ex.getMessage.contains("pmi_pairs"),
      s"expected the pmi_pairs overflow assert, got: ${ex.getMessage}")
  }

  test("prefixFilterJaccardPairs: exact set equality with brute force at several thresholds") {
    val rng = new scala.util.Random(7)
    val vocab = (0 until 40).map(i => s"w$i")
    val docs = (0L until 60L).map { i =>
      val n = 5 + rng.nextInt(10)
      (i, Seq.fill(n)(vocab(rng.nextInt(vocab.size))).mkString(" "))
    }
    val df = docs.toDF("id", "text")
    def bruteSets: Map[Long, Set[String]] =
      docs.map { case (i, t) => i -> t.toLowerCase.split(" ").toSet }.toMap
    for ((num, den) <- Seq((1L, 2L), (3L, 4L), (9L, 10L))) {
      val sets = bruteSets
      val want = (for {
        a <- docs.map(_._1); b <- docs.map(_._1) if a < b
        inter = (sets(a) intersect sets(b)).size
        uni = (sets(a) union sets(b)).size
        if inter.toLong * den >= uni.toLong * num
      } yield (a, b, inter.toLong, uni.toLong)).toSet
      val got = graft.operators.Dedup
        .prefixFilterJaccardPairs(df, "id", "text", num, den)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSet
      assert(got === want, s"tau=$num/$den")
      // hot-token salt grid: ceiling=2 forces EVERY repeated prefix token
      // through the grid — results must be identical (exactly-once)
      val gotGrid = graft.operators.Dedup
        .prefixFilterJaccardPairs(df, "id", "text", num, den, ceiling = 2)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSet
      assert(gotGrid === want, s"grid path diverged at tau=$num/$den")
    }
    // planted universal token in SHORT docs (whole doc is the prefix at
    // tau=1/2) — the quadratic pile-up shape the guard exists for
    val hotDocs = (0L until 50L).map(i => (i, s"hot u$i")) ++
      Seq((100L, "x y z"), (101L, "x y z"))
    val hotDf = hotDocs.toDF("id", "text")
    val gotHot = graft.operators.Dedup
      .prefixFilterJaccardPairs(hotDf, "id", "text", 1L, 2L, ceiling = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    // hot-group pairs share only "hot": J = 1/3 < 1/2 → only the planted
    // exact dup (and every candidate was still length-checked: exactness)
    assert(gotHot === Set((100L, 101L, 3L, 3L)))
  }

  test("weightedCosinePairs: exact set equality with brute force at several thresholds") {
    val rng = new scala.util.Random(13)
    val vocab = (0 until 25).map(i => s"w$i")
    // multiplicity matters: docs repeat tokens (TF > 1 is the point)
    val docs = (0L until 50L).map { i =>
      val n = 4 + rng.nextInt(12)
      (i, Seq.fill(n)(vocab(rng.nextInt(vocab.size))).mkString(" "))
    }
    val df = docs.toDF("id", "text")
    val tfs: Map[Long, Map[String, Long]] = docs.map { case (i, t) =>
      i -> t.toLowerCase.split(" ", -1).groupBy(identity)
        .map { case (k, v) => k -> v.length.toLong }
    }.toMap
    for ((num, den) <- Seq((1L, 2L), (4L, 5L), (19L, 20L))) {
      val want = (for {
        a <- docs.map(_._1); b <- docs.map(_._1) if a < b
        ma = tfs(a); mb = tfs(b)
        dot = ma.map { case (t, c) => c * mb.getOrElse(t, 0L) }.sum
        n1 = ma.values.map(c => c * c).sum
        n2 = mb.values.map(c => c * c).sum
        if BigInt(dot) * dot * den * den >= BigInt(num) * num * n1 * n2
      } yield (a, b, dot, n1, n2)).toSet
      val got = graft.operators.Dedup
        .weightedCosinePairs(df, "id", "text", num, den)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
        .toSet
      assert(got === want, s"tau=$num/$den: missing=${want -- got} extra=${got -- want}")
      // hot-token salt grid: with a 25-word vocab over 50 docs every
      // token's df exceeds ceiling=2, so EVERYTHING rides the grid —
      // results must be identical (exactly-once)
      val gotGrid = graft.operators.Dedup
        .weightedCosinePairs(df, "id", "text", num, den, ceiling = 2)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
        .toSet
      assert(gotGrid === want, s"grid path diverged at tau=$num/$den")
    }
  }

  test("tokenizer unification: ragged whitespace — d18 and d20 share one vocabulary, no phantom token") {
    import graft.operators.Dedup
    // consecutive / leading / trailing spaces: the single-space split
    // alone would emit "" tokens; the shared tokenizer drops them
    val ragged = Seq(
      (1L, "alpha  beta   alpha"), (2L, " beta gamma "), (3L, "alpha beta")
    ).toDF("id", "text")
    val setVocab = ragged
      .select(explode(Dedup.tokenSet(col("text"))).as("t"))
      .distinct().collect().map(_.getString(0)).toSet
    assert(setVocab === Set("alpha", "beta", "gamma"))
    val bagVocab = ragged
      .select(explode(Dedup.tokens(col("text"))).as("t"))
      .distinct().collect().map(_.getString(0)).toSet
    assert(bagVocab === setVocab, "d18/d20 vocabularies diverged")
    // multiplicity survives the filter: doc 1 has alpha ×2
    val tf1 = ragged.filter(col("id") === 1L)
      .select(explode(Dedup.tokens(col("text"))).as("t"))
      .groupBy("t").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(tf1 === Map("alpha" -> 2L, "beta" -> 1L))
    // end-to-end: cosine(doc1, doc3) on ragged input matches the
    // clean-text computation — dot = 2·1 + 1·1 = 3, n2 = 5 and 2
    val pairs = Dedup.weightedCosinePairs(ragged, "id", "text", 1L, 2L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    assert(pairs.contains((1L, 3L, 3L, 5L, 2L)), s"got $pairs")
  }

  test("AcAutomaton: brute-force parity on random strings with overlapping patterns") {
    import graft.operators.AcAutomaton
    // patterns chosen to stress fail links: prefixes of each other,
    // self-overlapping, single char, and a duplicate (counts twice)
    val patterns = Array("aa", "aab", "ab", "b", "aba", "aa")
    val ac = new AcAutomaton(patterns)
    def brute(t: String): Long =
      patterns.map { p =>
        (0 to t.length - p.length).count(i => t.regionMatches(i, p, 0, p.length)).toLong
      }.sum
    val rnd = new scala.util.Random(11)
    for (_ <- 1 to 300) {
      val t = Seq.fill(3 + rnd.nextInt(40))("ab" (rnd.nextInt(2))).mkString
      assert(ac.countAll(org.apache.spark.unsafe.types.UTF8String.fromString(t))
        === brute(t), s"text=$t")
    }
    assert(ac.countAll(null) === 0L)
    // the Column kernel agrees with the automaton (codegen path)
    import graft.operators.MultiMatch
    val df = Seq("aabab", "bbbb", "", "xyz").toDF("t")
      .select(MultiMatch.countMatches(col("t"), patterns.toSeq).as("n"))
    assert(df.collect().map(_.getLong(0)).toSeq ===
      Seq(brute("aabab"), brute("bbbb"), brute(""), brute("xyz")))
    // NULL text → 0 hits (never NULL), so flagged stays a real boolean
    import graft.operators.TextAnalysis
    val withNull = Seq((1L, "aabab"), (2L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val hits = TextAnalysis.substringBlocklistHits(
      withNull, "doc_id", "text", Seq("aa"), maxHits = 0L)
      .orderBy("doc_id").collect()
    assert(!hits(1).isNullAt(1) && hits(1).getLong(1) === 0L)
    assert(!hits(1).isNullAt(2) && hits(1).getBoolean(2) === false)
    assert(hits(0).getLong(1) === 1L && hits(0).getBoolean(2) === true)
  }

  test("Similarity.dbscanLabels: hand graph — cores, border tie to min component, noise, isolated core") {
    import graft.operators.Similarity
    // unit vectors on the xy-circle; tau = 0.92 ≈ cos(23°):
    //  arc chain A at 0°/15°/30°: edges 0-1 and 1-2 only → node 1 is the
    //  SOLE core (an ISOLATED core, no core-core edge) and 0/2 are
    //  borders of its cluster
    //  tight triangle B at 90°/97°/104°: mutually adjacent → all core
    //  30 at 200°: adjacent to nothing → noise
    def v(deg: Double) = {
      val r = math.toRadians(deg)
      Seq(math.cos(r).toFloat, math.sin(r).toFloat, 0f)
    }
    val rows = Seq(
      (0L, v(0)), (1L, v(15)), (2L, v(30)),
      (10L, v(90)), (11L, v(97)), (12L, v(104)),
      (30L, v(200)))
    val df = rows.toDF("id", "vec")
    // planes=1 per band, 4 bands: points ≤15° apart co-bucket in ≥1 band
    // with prob ~1-(15/180)^4 — candidate visibility is near-certain here
    val drv = Similarity.dbscanLabels(df, "id", "vec",
      tau = 0.92, minPts = 3, planes = 1, seed = 7L, bands = 4)
    val out = drv.collect().map(r => r.getLong(0) ->
        (r.getString(1), if (r.isNullAt(2)) -1L else r.getLong(2))).toMap
    assert(out(1L) === (("core", 1L)), out.toString)   // isolated core
    assert(out(0L) === (("border", 1L)), out.toString)
    assert(out(2L) === (("border", 1L)), out.toString)
    assert(Seq(10L, 11L, 12L).forall(i => out(i) === (("core", 10L))), out.toString)
    assert(out(30L) === (("noise", -1L)), out.toString)
    // the public call labels this graph on the driver; the distributed
    // labelling, called by name on the same ε-neighborhood pairs, must
    // return the same rows under the same schema
    val pairs = Dedup.embeddingNearDupPairs(df, "id", "vec", planes = 1,
      seed = 7L, threshold = 0.92, bands = 4)
    val dist = Similarity.dbscanDistributed(df, "id", pairs, minPts = 3)
    def rowSet(f: org.apache.spark.sql.DataFrame) = f.collect().map(_.toSeq).toSet
    assert(rowSet(dist) === rowSet(drv))
    assert(dist.schema.map(f => (f.name, f.dataType)) ===
      drv.schema.map(f => (f.name, f.dataType)))
    pairs.unpersist(blocking = true)
    drv.unpersist(blocking = true)
  }

  test("Similarity.kmeansLloydExact: planted clusters recovered; trajectory partition-invariant") {
    import graft.operators.Similarity
    val rnd = new scala.util.Random(5)
    // 3 planted centers far apart, tight noise — Lloyd must recover them
    val centers = Array(Array(10f, 0f, 0f), Array(0f, 10f, 0f), Array(0f, 0f, 10f))
    val rows = (0 until 90).map { i =>
      val c = centers(i % 3)
      (i.toLong, c.map(v => v + (rnd.nextFloat() - 0.5f) * 0.2f).toSeq)
    }
    val df = rows.toDF("id", "vec")
    val (cents, assigned) = Similarity.kmeansLloydExact(df, "id", "vec", k = 3, iters = 5)
    val byId = assigned.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // purity: every member of a planted cluster got the same label,
    // and the three labels are distinct
    val labels = (0 until 3).map(c => (c until 90 by 3).map(i => byId(i.toLong)).distinct)
    assert(labels.forall(_.size == 1), s"impure clusters: $labels")
    assert(labels.flatten.distinct.size === 3)
    // centroids land on the planted centers at quantization resolution
    for (c <- cents) {
      val back = c.map(_.toDouble / (1L << 20))
      assert(centers.exists(pc => pc.zip(back).forall { case (p, b) => math.abs(p - b) < 0.1 }))
    }
    // the whole trajectory is a pure function of the corpus: a 17-way
    // repartition must give byte-identical centroids AND assignment
    val (cents17, assigned17) = Similarity.kmeansLloydExact(
      df.repartition(17), "id", "vec", k = 3, iters = 5)
    assert(cents17.map(_.toSeq).toSeq === cents.map(_.toSeq).toSeq)
    assert(assigned17.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap === byId)

    // refined trainer (sampled init + exact passes): Lloyd refinement
    // can only polish whatever basins the sampled init found (it never
    // re-seeds), so the GUARANTEED invariant is SSE monotonicity — the
    // refined centroids fit the corpus at least as well as the raw
    // sampled ones — plus the bounded pass count
    val moves = scala.collection.mutable.ArrayBuffer[(Int, Long)]()
    val refined = Similarity.kmeansCentroidsRefined(
      df, "id", "vec", k = 3, sampleIters = 5, refineIters = 2,
      seed = 42L, sampleN = 90, onIter = (i, m) => moves += ((i, m)))
    val sampledOnly = Similarity.kmeansCentroids(
      df, "vec", k = 3, iters = 5, seed = 42L, sampleN = 90)
    def sse(cents: Array[Array[Float]]): Double =
      rows.map { case (_, v) =>
        cents.map(c => c.zip(v).map { case (a, b) => (a - b) * (a - b) }
          .sum.toDouble).min
      }.sum
    assert(sse(refined) <= sse(sampledOnly) + 1e-6,
      s"refinement worsened fit: ${sse(refined)} > ${sse(sampledOnly)}")
    assert(moves.nonEmpty && moves.length <= 2)
    val scale = (1L << 20).toDouble
    val initQ = refined.map(_.map(x => math.round(x.toDouble * scale)))
    val moves2 = scala.collection.mutable.ArrayBuffer[(Int, Long)]()
    Similarity.kmeansLloydExact(df, "id", "vec", k = 3, iters = 5,
      init = Some(initQ), convergeDist2 = 0L,
      onIter = (i, m) => moves2 += ((i, m)))
    assert(moves2.length === 1, s"early exit should stop after one pass: $moves2")
    assert(moves2.head._2 === 0L, s"converged centroids must not move: $moves2")
  }

  test("Dedup.repeatedSpans: hand-built coverage, overlap merging, hash parity") {
    import graft.operators.Dedup
    // docs 1 and 2 share the 4-token span "a b c d"; doc 3 is clean;
    // doc 4 repeats a span WITHIN itself; doc 5 is shorter than w
    val docs = Seq(
      (1L, "a b c d x y z"),
      (2L, "p q a b c d"),
      (3L, "u v w u2 v2 w2"),
      (4L, "m n o r m n o r"),
      (5L, "s t")).toDF("doc_id", "text")
    def run(hash: Boolean) = Dedup
      .repeatedSpans(docs, "doc_id", "text", w = 4, minOccur = 2L, hashGrams = hash)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4))).toMap
    val m = run(hash = false)
    // doc 1: start 1 repeated -> tokens 1..4 covered, kept "x y z"
    assert(m(1L) === ((7L, 1L, 4L, "x y z")))
    // doc 2: start 3 repeated -> tokens 3..6 covered, kept "p q"
    assert(m(2L) === ((6L, 1L, 4L, "p q")))
    // doc 3: nothing repeated
    assert(m(3L) === ((6L, 0L, 0L, "u v w u2 v2 w2")))
    // doc 4: "m n o r" occurs at starts 1 and 5 (and "n o r m" etc. only
    // once) -> spans [1,4] and [5,8] merge to full coverage, kept ""
    assert(m(4L) === ((8L, 2L, 8L, "")))
    // doc 5: below w -> no grams, everything kept
    assert(m(5L) === ((2L, 0L, 0L, "s t")))
    // the xxhash64 scale path agrees exactly on this corpus
    assert(run(hash = true) === m)

    // positional-raw convention on ragged whitespace: the double space in
    // doc 6 is a phantom "" token at pos 3 — counted in n_tokens (the
    // positions must index the same raw array Shingles.all walks), so the
    // repeated "a b c d" span at raw starts 1 and 6 covers 8 of 10
    // positions; the uncovered "" and "x" rebuild as " x".
    // Dedup.tokens drops it: the set/bag family sees 9 tokens.
    val ragged = Seq(
      (6L, "a b c d  a b c d x"),
      (7L, "a b c d p q r t u")).toDF("doc_id", "text")
    val mr = Dedup
      .repeatedSpans(ragged, "doc_id", "text", w = 4, minOccur = 2L, hashGrams = false)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4))).toMap
    assert(mr(6L)._1 === 10L) // raw positions, phantom "" counted
    assert(mr(6L) === ((10L, 2L, 8L, " x")))
    val nSetTokens = ragged.filter($"doc_id" === 6L)
      .select(size(graft.operators.Dedup.tokens($"text"))).as[Int].head()
    assert(nSetTokens === 9) // set/bag family drops the phantom token
  }

  test("Isotonic.isotonicFit: hand PAV case, minimax parity on random data, duplicate-score pooling") {
    import graft.operators.Isotonic
    // means 1, 3, 2, 2, 5 (cents, single counts): PAV pools 3,2,2 -> 7/3
    val hand = Seq((0L, 100L), (1L, 300L), (2L, 200L), (3L, 200L), (4L, 500L))
      .toDF("score", "cents")
    val got = Isotonic.isotonicFit(hand, "score", "cents")
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(got(0L) === 100.0 && got(4L) === 500.0)
    assert(got(1L) === 700.0 / 3 && got(2L) === 700.0 / 3 && got(3L) === 700.0 / 3)
    // random data incl. DUPLICATE scores vs the minimax closed form
    // f(i) = max_{j<=i} min_{k>=i} avg(j..k) over the pooled sequence
    val rng = new scala.util.Random(23)
    val raw = Seq.fill(80)((rng.nextInt(20).toLong, (rng.nextInt(1000) + 1).toLong))
    val pooled = raw.groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (x, rows) => (x, rows.map(_._2).sum, rows.size.toLong) }
    val n = pooled.size
    def avg(j: Int, k: Int): Double = {
      val num = (j to k).map(pooled(_)._2).sum
      val den = (j to k).map(pooled(_)._3).sum
      num.toDouble / den.toDouble
    }
    val want = (0 until n).map { i =>
      pooled(i)._1 -> (0 to i).map(j => (i until n).map(k => avg(j, k)).min).max
    }.toMap
    val got2 = Isotonic.isotonicFit(raw.toDF("score", "cents"), "score", "cents")
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(got2 === want)
    // fitted is monotone non-decreasing in score
    val ordered = got2.toSeq.sortBy(_._1).map(_._2)
    assert(ordered.zip(ordered.tail).forall { case (a, b) => a <= b })
  }

  test("Isotonic.isotonicFit: maxBlocks ENFORCES the driver-collect bound on high-cardinality scores") {
    import graft.operators.Isotonic
    import org.apache.spark.sql.functions.col
    // strictly increasing means never pool: 5000 distinct scores stay
    // 5000 PAV blocks — a tight maxBlocks must fail LOUD instead of
    // collecting an unbounded grid
    val steep = spark.range(5000)
      .select(col("id").as("score"), (col("id") * 10).as("cents"))
    val ex = intercept[Throwable] {
      Isotonic.isotonicFit(steep, "score", "cents", maxBlocks = 100).count()
    }
    def chain(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ chain(x.getCause))
    assert(chain(ex).exists(_.contains("PAV blocks")))
    // the same frame under the bound still fits exactly (identity fit)
    val ok = Isotonic.isotonicFit(steep, "score", "cents", maxBlocks = 5000)
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(ok(7L) === 70.0 && ok(4999L) === 49990.0 && ok.size === 5000)
  }

  test("Isotonic.meanLess: cross-multiplication past 2^63 falls back to exact BigInt, never wraps") {
    import graft.operators.Isotonic
    // avgA = 2^61, avgB = 2^59: the true answer is false, but the long
    // product 2^62·4 wraps to 0 and a naive compare would say true
    val big = 1L << 62
    assert(!Isotonic.meanLess(big, 2L, 1L << 61, 4L))
    assert(Isotonic.meanLess(1L << 61, 4L, big, 2L)) // symmetric case
    // negative cents (refund-heavy blocks) stay exact through the fallback
    assert(Isotonic.meanLess(-big, 2L, 1L << 61, 4L))
    // non-overflowing comparisons agree with plain rationals
    assert(Isotonic.meanLess(1L, 3L, 1L, 2L) && !Isotonic.meanLess(1L, 2L, 1L, 3L))
  }

  test("BoundedTopK: k >= group size returns the whole group, sorted") {
    val agg = new BoundedTopK(10)
    val out = finishOf(agg, Seq(ScoredId(1.0, 3L), ScoredId(5.0, 1L), ScoredId(2.0, 2L)))
    assert(out.map(_.id) === Seq(1L, 2L, 3L))
    assert(out.map(_.score) === Seq(5.0, 2.0, 1.0))
  }

  test("BoundedTopK: deterministic tie-break — equal scores rank by id asc") {
    val agg = new BoundedTopK(2)
    val tied = Seq(ScoredId(1.0, 9L), ScoredId(1.0, 2L), ScoredId(1.0, 5L))
    // any permutation of arrival must give the same winners
    tied.permutations.foreach { perm =>
      assert(finishOf(agg, perm).map(_.id) === Seq(2L, 5L), s"order $perm")
    }
  }

  test("BoundedTopK.merge: partial buffers combine to the global top-k") {
    val agg = new BoundedTopK(3)
    val left = Seq(ScoredId(9.0, 1L), ScoredId(7.0, 2L)).foldLeft(agg.zero)(agg.reduce)
    val right = Seq(ScoredId(8.0, 3L), ScoredId(6.0, 4L)).foldLeft(agg.zero)(agg.reduce)
    assert(agg.finish(agg.merge(left, right)).map(_.id) === Seq(1L, 3L, 2L))
    // merge with zero on either side is identity
    assert(agg.finish(agg.merge(agg.zero, left)).map(_.id) === Seq(1L, 2L))
    assert(agg.finish(agg.merge(left, agg.zero)).map(_.id) === Seq(1L, 2L))
    // empty + empty
    assert(agg.finish(agg.merge(agg.zero, agg.zero)) === Seq.empty)
  }

  test("topkAgg end-to-end: per-group k best across many partitions") {
    val rows = (0 until 4).flatMap(g =>
      (0 until 500).map(i => (g.toLong, (i * 31 % 500).toDouble, i.toLong)))
    val df = rows.toDF("g", "score", "id").repartition(8)
    val out = df.groupBy("g")
      .agg(TopK.topkAgg(3)(col("score"), col("id")).as("top"))
      .select(col("g"), explode(col("top")).as("s"))
      .select(col("g"), col("s.score"), col("s.id"))
      .collect()
    assert(out.length === 12)
    // per group the max achievable score is 499 at i with i*31%500 == 499
    val g0 = out.filter(_.getLong(0) == 0L).map(r => (r.getDouble(1), r.getLong(2)))
    assert(g0.map(_._1).toSeq === g0.map(_._1).sorted(Ordering[Double].reverse).toSeq)
    assert(g0.head._1 === 499.0)
  }

  test("selfChunkDedup: repeats drop within a doc but NOT across docs; first wins") {
    import graft.operators.Dedup
    val docs = Seq(
      // doc 1: chunk "a b" repeats (idx 0 and 2) — second drops
      (1L, "a b c d a b e f"),
      // doc 2: contains doc 1's chunk — must survive (self-scope only)
      (2L, "a b x y"),
      // doc 3: all chunks identical — collapses to one
      (3L, "q r q r q r"),
      (4L, "   "))
      .toDF("doc_id", "text")
    val out = Dedup.selfChunkDedup(docs, "doc_id", "text", chunkTokens = 2)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(out(1L) == ((4L, 3L, "a b c d e f")))
    assert(out(2L) == ((2L, 2L, "a b x y")), "cross-doc repeats must survive")
    assert(out(3L) == ((3L, 1L, "q r")))
    assert(!out.contains(4L), "whitespace-only docs emit no row")
  }

  test("selfChunkDedup: idempotent on seeded random word-soup (rewrite of rewrite = rewrite)") {
    import graft.operators.Dedup
    for (seed <- Seq(3, 11)) {
      val rnd = new scala.util.Random(seed)
      val docs = (0L until 50L).map { i =>
        (i, (0 until 6 + rnd.nextInt(40)).map(_ => s"w${rnd.nextInt(12)}").mkString(" "))
      }.toDF("doc_id", "text")
      val once = Dedup.selfChunkDedup(docs, "doc_id", "text", chunkTokens = 2)
        .select(col("doc_id"), col("text_dedup"))
      val twice = Dedup.selfChunkDedup(
        once.withColumnRenamed("text_dedup", "text"), "doc_id", "text",
        chunkTokens = 2)
        .select(col("doc_id"), col("text_dedup"))
      val a = once.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      val b = twice.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(b == a, s"seed $seed: second pass must change nothing")
    }
  }

  test("hardNegatives: nearest same-label vector is skipped for the best cross-label one") {
    import graft.operators.Similarity
    // anchor (id 0, label A) at e1; id 1 is an exact same-label copy
    // (cosine 1.0 — MUST be skipped, including the self-exclusion case);
    // id 2 label B nearly parallel (the hard negative); id 3 label B
    // orthogonal (the easy negative, ranked after)
    val vecs = Seq(
      (0L, Seq(1.0f, 0.0f), "A"),
      (1L, Seq(1.0f, 0.0f), "A"),
      (2L, Seq(0.9f, 0.1f), "B"),
      (3L, Seq(0.0f, 1.0f), "B"))
      .toDF("vec_id", "embedding", "label")
    val out = Similarity.hardNegatives(
      vecs.filter(col("vec_id") === 0)
        .select(col("vec_id").as("q_id"), col("embedding"), col("label")),
      vecs, "q_id", "vec_id", "embedding", "embedding", "label", "label",
      k = 2)
      .orderBy("rnk")
      .collect()
      .map(r => (r.getLong(1), r.getAs[Number]("rnk").longValue()))
    assert(out.toSeq == Seq((2L, 1L), (3L, 2L)),
      s"hard negative 2 then easy negative 3, never same-label 0/1: ${out.toSeq}")
  }

  test("knnPredict: cluster labels recovered; vote ties break to the smallest label") {
    import graft.operators.Similarity
    // two tight 2D clusters: ids 0-9 near (1,0) labeled 1, ids 10-19
    // near (0,1) labeled 2; queries from each side must vote their own
    // cluster with all k votes
    val rows = (0 until 10).map(i => (i.toLong, Seq(1f, i * 1e-4f), 1)) ++
      (10 until 20).map(i => (i.toLong, Seq((i - 10) * 1e-4f, 1f), 2))
    val em = rows.toDF("vec_id", "embedding", "label")
    val q = em.filter(col("vec_id").isin(0L, 15L))
      .select(col("vec_id").as("q_id"), col("embedding"))
    val got = Similarity.knnPredict(q, em, "q_id", "vec_id",
      "embedding", "embedding", "label", k = 5, excludeSelf = true)
      .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getLong(2)))).toMap
    assert(got(0L) === ((1, 5L)))
    assert(got(15L) === ((2, 5L)))
    // forced 2-2 tie at k=4 on an equidistant query: label 1 wins (ties
    // to the smallest label). Query (1,1) sees two of each cluster.
    val tiny = Seq(
      (1L, Seq(1f, 0f), 1), (2L, Seq(0.9f, 0f), 1),
      (3L, Seq(0f, 1f), 2), (4L, Seq(0f, 0.9f), 2))
      .toDF("vec_id", "embedding", "label")
    val tq = Seq((100L, Seq(1f, 1f))).toDF("q_id", "embedding")
    val tie = Similarity.knnPredict(tq, tiny, "q_id", "vec_id",
      "embedding", "embedding", "label", k = 4)
      .collect().map(r => (r.getInt(1), r.getLong(2))).head
    assert(tie === ((1, 2L)))
  }

  test("tokenOverlapPairs: DF ceiling drops hot tokens BEFORE the self-join (sub-quadratic)") {
    // 200 docs all share the stop-word 'the' (hot); only docs 0/1 and 2/3
    // share 3 rare tokens each
    val docs = (0 until 200).map { i =>
      val rare =
        if (i <= 1) "alpha beta gamma"
        else if (i <= 3) "delta epsilon zeta"
        else s"solo${i}a solo${i}b solo${i}c"
      (i.toLong, s"the $rare")
    }.toDF("doc_id", "text")
    val pairs = Dedup.tokenOverlapPairs(docs, "doc_id", "text", minCommon = 2, maxDf = 50L)
    val got = pairs.select("d1", "d2").as[(Long, Long)].collect().toSet
    // hot-token-only overlaps (e.g. (0,5), (7,9), …) must NOT appear: with
    // 'the' in the posting list the join would be 200*199/2 ≈ 20k pairs
    assert(got === Set((0L, 1L), (2L, 3L)))
    // and the ceiling is applied as a broadcast anti-join (no extra shuffle
    // of the posting list)
    val plan = pairs.queryExecution.executedPlan.toString
    assert(plan.contains("LeftAnti"), plan.take(1500))
    assert(plan.contains("BroadcastExchange"), plan.take(1500))
  }

  test("dedup persist hygiene: temps released; only caller-owned results stay cached") {
    spark.catalog.clearCache()
    def cached: Boolean = !spark.sharedState.cacheManager.isEmpty
    val docs = (0 until 120).map(i =>
      (i.toLong, s"tok${i % 8}a tok${i % 8}b tok${i % 8}c word$i tail$i")).toDF("id", "text")
    // minhashCandidatePairs: returned frame IS persisted (caller-owned),
    // internal buckets are not
    val pairs = Dedup.minhashCandidatePairs(docs, "id", "text", 8, 4, 2)
    pairs.unpersist(blocking = true)
    assert(!cached, "minhashCandidatePairs leaked its bucket temp")
    // embeddingNearDupPairs: same contract
    val vecs = (0 until 60).map(i =>
      (i.toLong, Array.fill(8)((i % 5).toFloat + 1f))).toDF("id", "v")
    val epairs = Dedup.embeddingNearDupPairs(vecs, "id", "v", planes = 4, seed = 7L,
      threshold = 0.9, bands = 2)
    epairs.unpersist(blocking = true)
    assert(!cached, "embeddingNearDupPairs leaked its bucket temp")
    // nearDupGroups (driver union-find path): fully leak-free
    val out = Dedup.nearDupGroups(docs, "id", "text", 8, 4, 2, 0.5)
    assert(out.count() === 120L)
    assert(!cached, "nearDupGroups leaked temps on the driver-CC path")
    // distributed label-propagation path: loop state is checkpoint-backed,
    // nothing enters the session cache (a persisted loop would also grow
    // its lineage 3x per iteration → planner OOM on long chains)
    val star = (1 until 40).map(i => (0L, i.toLong)).toDF("d1", "d2")
    val comps = Graph.connectedComponentsDistributed(star, "d1", "d2", maxRounds = 10)
    assert(comps.select("label").distinct().count() === 1L)
    assert(comps.filter(col("label") =!= 0L).count() === 0L)
    assert(!cached, "connectedComponents leaked loop state on the distributed path")
  }

  test("distributed CC: pointer jumping resolves a 120-hop chain within ~log n rounds") {
    // plain O(diameter) propagation would need 120 rounds; with pointer
    // jumping maxRounds=12 (~2^12 reach) must fully converge — no
    // refusal, one component rooted at 0
    val chain = (0 until 120).map(i => (i.toLong, (i + 1).toLong)).toDF("d1", "d2")
    val comps = Graph.connectedComponentsDistributed(chain, "d1", "d2", maxRounds = 12)
    assert(comps.count() === 121L)
    assert(comps.filter(col("label") =!= 0L).count() === 0L)
  }

  test("distributed CC matches driver union-find on seeded random graphs") {
    val rnd = new scala.util.Random(1234)
    (1 to 3).foreach { trial =>
      val n = 200
      val edges = (1 to 150).map(_ => (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
      val df = edges.toDF("d1", "d2")
      val exact = Graph.connectedComponents(df, "d1", "d2")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val dist = Graph.connectedComponentsDistributed(df, "d1", "d2", maxRounds = 15)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(dist === exact, s"trial $trial: distributed CC diverged from union-find")
    }
  }

  test("tokens: empty/whitespace-only text yields 0 tokens, not a phantom empty token") {
    import graft.operators.TextAnalysis
    val df = Seq((1L, ""), (2L, "   "), (3L, "one two")).toDF("id", "t")
    val out = df.select(col("id"), TextAnalysis.tokenCount(col("t")).as("n"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(out === Map(1L -> 0, 2L -> 0, 3L -> 2))
    // quality ratios keep clean denominators on empty docs
    val q = TextAnalysis.qualityStats(df, "t").filter(col("id") === 1L).head()
    assert(q.getAs[Double]("mean_token_len") === 0.0)
    assert(q.getAs[Double]("stopword_ratio") === 0.0)
  }

  test("langId: unsegmented CJK text detects as zh via script, not stopword tokens") {
    import graft.operators.TextAnalysis
    val df = Seq(
      (1L, "我不在这就是他有了的"),          // unsegmented Chinese
      (2L, "the cat sat on the mat and it is fine"),
      (3L, "der hund ist nicht mit der katze und ich"),
      (4L, "")).toDF("id", "t")
    val out = df.select(col("id"), TextAnalysis.langId(col("t")).as("l"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) === "zh")
    assert(out(2L) === "en")
    assert(out(3L) === "de")
    assert(out(4L) === "und")
    // the one-tokenize-per-row df-level form is semantically identical to
    // the Column form (it exists purely to dodge the 5× tokenize tax)
    val out2 = TextAnalysis.withLangId(df, "t", "l")
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[String]("l")).toMap
    assert(out2 === out)
    // and the hidden token column does not leak into the output schema
    assert(TextAnalysis.withLangId(df, "t").columns.toSeq === Seq("id", "t", "lang_pred"))
  }

  test("topKJoin: excludeSelf drops the query's own corpus row; default keeps id collisions") {
    import graft.operators.Similarity
    val vecs = (0 until 30).map(i =>
      (i.toLong, Array.tabulate(4)(j => (1.0f + i * j) / (i + 1)))).toDF("vid", "v")
    val queries = vecs.filter(col("vid") < 3).select(col("vid").as("qid"), col("v"))
    // opt-IN when queries are corpus rows: no self-pair occupies a slot
    val out = Similarity.topKJoin(vecs.filter(col("vid") < 3)
      .select(col("vid").as("qid"), col("v")), vecs, "qid", "vid", "v", "v",
      k = 5, excludeSelf = true)
    assert(out.filter(col("qid") === col("vid")).count() === 0)
    assert(out.groupBy("qid").count().collect().forall(_.getLong(1) === 5L))
    // DEFAULT keeps id-colliding rows (an unrelated corpus sharing an id
    // space must not silently lose its best match): self-pair at rank 1
    val withSelf = Similarity.topKJoin(queries, vecs, "qid", "vid", "v", "v", k = 5)
    assert(withSelf.filter(col("qid") === col("vid") && col("rnk") === 1).count() === 3)
  }

  test("Ranges.merge coalesces overlaps/duplicates; runsOf splits on gaps") {
    import graft.core.Ranges
    assert(Ranges.merge(Seq((10L, 19L), (0L, 9L), (20L, 29L), (50L, 59L)))
      === Seq((0L, 29L), (50L, 59L)))
    assert(Ranges.merge(Seq((0L, 9L), (5L, 7L), (0L, 9L))) === Seq((0L, 9L)))
    assert(Ranges.runsOf(Seq(5L, 6L, 6L, 7L, 100L)) === Seq((5L, 7L), (100L, 100L)))
    assert(Ranges.runsOf(Seq.empty) === Seq.empty)
  }

  test("minhashCandidatePairs rejects numHashes not divisible by rowsPerBand") {
    val docs = Seq((1L, "a b c")).toDF("id", "t")
    intercept[IllegalArgumentException] {
      Dedup.minhashCandidatePairs(docs, "id", "t", numHashes = 10, rowsPerBand = 4)
    }
  }

  test("Sampling: deterministic splits partition exactly, reproducibly, ~proportionally") {
    import graft.operators.Sampling
    val ids = (0L until 10000L).toDF("id")
    val labeled = ids.select(col("id"), Sampling.splitLabel(col("id"), 0.9, 0.05).as("s"))
    val counts = labeled.groupBy("s").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts.values.sum === 10000L) // exact partition, no overlap/loss
    assert(counts("train") > 8700 && counts("train") < 9300)
    assert(counts("val") > 250 && counts("val") < 750)
    // determinism: a re-run and a re-partitioned run pick the SAME rows
    val s1 = Sampling.deterministicSample(ids, "id", 0.10).collect().map(_.getLong(0)).toSet
    val s2 = Sampling.deterministicSample(ids.repartition(13), "id", 0.10)
      .collect().map(_.getLong(0)).toSet
    assert(s1 === s2)
    assert(s1.size > 700 && s1.size < 1300)
    // boundary rendering; p=1.0 must be all-inclusive ("g" sorts after
    // every hex digit — a clamped "ffff" would drop bucket 0xffff)
    assert(Sampling.boundaryHex(0.10) === "199a")
    assert(Sampling.boundaryHex(1.0) === "g")
    assert(Sampling.boundaryHex(0.0) === "0000")
    assert(Sampling.deterministicSample(ids, "id", 1.0).count() === 10000L)
  }

  test("Sampling.stratifiedSample: per-stratum rates, nesting, default fallback") {
    import graft.operators.Sampling
    val rows = (0L until 6000L).map(i => (i, s"dom${i % 3}")).toDF("id", "dom")
    val rates = Map("dom0" -> 1.0, "dom1" -> 0.25)
    val kept = Sampling.stratifiedSample(rows, "id", "dom", rates, defaultPct = 0.0)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val byDom = kept.groupBy(_._2).view.mapValues(_.length).toMap
    assert(byDom("dom0") === 2000) // rate 1.0 keeps the whole stratum
    assert(byDom("dom1") > 300 && byDom("dom1") < 700) // ~500
    assert(!byDom.contains("dom2")) // default 0.0 drops unlisted strata
    // nesting: dom1 at 25% is a subset of dom1 at 50% (same hash stream)
    val at50 = Sampling.stratifiedSample(rows, "id", "dom", Map("dom1" -> 0.5))
      .collect().map(_.getLong(0)).toSet
    val at25 = kept.filter(_._2 == "dom1").map(_._1).toSet
    assert(at25.subsetOf(at50))
    // and it agrees with the unstratified sampler at the same rate
    val flat = Sampling.deterministicSample(
      rows.filter(col("dom") === "dom1"), "id", 0.25)
      .collect().map(_.getLong(0)).toSet
    assert(at25 === flat)
  }

  test("Sampling.upsampleByWeight: copies = floor(w) + nested hash slice, weight-0 drops") {
    import graft.operators.Sampling
    val rows = (0L until 6000L).map(i => (i, s"dom${i % 3}")).toDF("id", "dom")
    val up = Sampling.upsampleByWeight(rows, "id", "dom",
      Map("dom0" -> 2.5, "dom1" -> 0.0), defaultWeight = 1.0)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2)))
    val byDom = up.groupBy(_._2).view.mapValues(_.length).toMap
    // dom0 at 2.5: every row twice + ~half a third time
    assert(byDom("dom0") > 2000 * 2.3 && byDom("dom0") < 2000 * 2.7, byDom)
    assert(!byDom.contains("dom1")) // weight 0 drops the stratum
    assert(byDom("dom2") === 2000)  // default weight 1.0 = exactly once
    // rep indices are a dense 1..n per row
    val reps = up.filter(_._2 == "dom0").groupBy(_._1).view.mapValues(_.map(_._3).sorted)
    assert(reps.values.forall(s => s.toSeq == (1 to s.length)))
    // nesting: the rows granted the 3rd copy at 2.5 are EXACTLY the
    // deterministicSample(0.5) rows of the stratum (same hash stream)
    val third = up.filter(t => t._2 == "dom0" && t._3 == 3).map(_._1).toSet
    val half = Sampling.deterministicSample(
      rows.filter(col("dom") === "dom0"), "id", 0.5)
      .collect().map(_.getLong(0)).toSet
    assert(third === half)
  }

  test("Sampling.alphaMixtureRates: α=0.5 flattens the head via exact sqrt; α=1 is identity") {
    import graft.operators.Sampling
    // skewed strata: 2000 / 500 / 125 — exact power-of-4 ratios so the
    // α=0.5 rates are exact binary fractions (1/4, 1/2, 1)
    val rows = ((0L until 2000L).map((_, "big")) ++
        (2000L until 2500L).map((_, "mid")) ++
        (2500L until 2625L).map((_, "small"))).toDF("id", "dom")
    val rates = Sampling.alphaMixtureRates(rows, "dom", 0.5)
    assert(rates === Map("big" -> 0.25, "mid" -> 0.5, "small" -> 1.0))
    // α=1 (no tempering): every stratum keeps everything
    assert(Sampling.alphaMixtureRates(rows, "dom", 1.0).values.forall(_ === 1.0))
    val kept = Sampling.alphaMixtureSample(rows, "id", "dom", 0.5)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val byDom = kept.groupBy(_._2).view.mapValues(_.length).toMap
    assert(byDom("small") === 125) // smallest stratum survives whole
    assert(byDom("mid") > 180 && byDom("mid") < 320)   // ~250
    assert(byDom("big") > 400 && byDom("big") < 600)   // ~500: head flattened 4×
    // nesting with the plain sampler (same hash stream at the same rate)
    val flat = Sampling.deterministicSample(
      rows.filter(col("dom") === "big"), "id", 0.25)
      .collect().map(_.getLong(0)).toSet
    assert(kept.filter(_._2 == "big").map(_._1).toSet === flat)
  }

  test("Sampling.weightedSample: proportional selection, deterministic, partition-independent") {
    import graft.operators.Sampling
    // 5000 rows weight 8 vs 5000 weight 1: among the top-1000 keys the
    // heavy group should win ~8/9 of slots (pairwise P = 8/(8+1))
    val rows = (0L until 10000L).map(i => (i, if (i < 5000) 8L else 1L))
      .toDF("id", "w")
    val picked = Sampling.weightedSample(rows, "id", "w", k = 1000)
      .select("id").as[Long].collect().toSet
    val heavy = picked.count(_ < 5000L)
    assert(heavy > 800 && heavy < 950, s"heavy share off: $heavy/1000")
    // deterministic under repartitioning: same winners, any layout
    val shuffled = Sampling.weightedSample(rows.repartition(13), "id", "w", k = 1000)
      .select("id").as[Long].collect().toSet
    assert(shuffled === picked)
    // weight 1 everywhere degenerates to the plain smallest-hash sample
    val flat = (0L until 100L).toDF("id").withColumn("w", lit(1L))
    val one = Sampling.weightedSample(flat, "id", "w", k = 10)
      .select("id").as[Long].collect().toSet
    val expect = (0L until 100L).map(i => i ->
      java.lang.Long.parseLong(
        org.apache.commons.codec.digest.DigestUtils.md5Hex(s"$i#1").take(15), 16))
      .sortBy(_._2).take(10).map(_._1).toSet
    assert(one === expect)
  }

  test("tokenBudgetSelect: deterministic prefix under the budget, ties by id, partition-independent") {
    import graft.operators.Sampling
    // priority ties everywhere: selection must fall back to id order
    val rows = (0L until 1000L).map(i => (i, 7L, (i % 5) + 1L))
      .toDF("id", "prio", "cost")
    val out = Sampling.tokenBudgetSelect(rows, "id", "cost", "prio", 90L)
    try {
      val got = out.select("id").as[Long].collect().sorted.toSeq
      // naive reference: same total order, inclusive running sum
      val expect = (0L until 1000L).map(i => (i, (i % 5) + 1L))
        .scanLeft((-1L, 0L)) { case ((_, acc), (i, c)) => (i, acc + c) }
        .drop(1).takeWhile(_._2 <= 90L).map(_._1)
      assert(got === expect)
      // partition-independence: a shuffled, oddly-partitioned input selects
      // the SAME prefix
      val shuffled = rows.orderBy(rand(42)).repartition(7)
      val out2 = Sampling.tokenBudgetSelect(shuffled, "id", "cost", "prio", 90L)
      try assert(out2.select("id").as[Long].collect().sorted.toSeq === expect)
      finally out2.unpersist()
      // budget smaller than the first row's cost selects nothing
      val none = Sampling.tokenBudgetSelect(rows, "id", "cost", "prio", 0L)
      try assert(none.count() === 0L)
      finally none.unpersist()
      // NULL costs count as 0, never NPE the offsets job — even when a
      // whole range partition is all-null (nulls-last priority ordering)
      val withNulls = (0L until 100L)
        .map(i => (i, if (i < 50) Some(7L) else None, java.lang.Long.valueOf(1L)))
        .toDF("id", "prio", "cost")
      val sel = Sampling.tokenBudgetSelect(withNulls, "id", "cost", "prio", 10L)
      try assert(sel.count() === 10L)
      finally sel.unpersist()
      val nullCosts = (0L until 100L)
        .map(i => (i, 7L, if (i % 2 == 0) Some(1L) else None))
        .toDF("id", "prio", "cost")
      val sel2 = Sampling.tokenBudgetSelect(nullCosts, "id", "cost", "prio", 3L)
      // costs 1,0,1,0,...: run hits 3 at id 4; ids 0..5 all have run <= 3
      try assert(sel2.select("id").as[Long].collect().sorted.toSeq === (0L to 5L))
      finally sel2.unpersist()
    } finally out.unpersist()
  }

  test("stratifiedSample: >100 strata switch to a broadcast rate-lookup join, same rows") {
    import graft.operators.Sampling
    val rows = (0L until 4000L).map(i => (i, s"dom${i % 200}")).toDF("id", "dom")
    val rates = (0 until 200).map(d => s"dom$d" -> (if (d % 2 == 0) 0.5 else 0.1)).toMap
    val joined = Sampling.stratifiedSample(rows, "id", "dom", rates, defaultPct = 0.25)
    // 200 strata > the 100-stratum ceiling: must plan a BHJ, not a CASE
    // chain one branch shy of Janino's method limit
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan.take(1500))
    // and the two boundary-lookup shapes select EXACTLY the same rows
    val viaCase = Sampling.stratifiedSample(rows, "id", "dom", rates,
      defaultPct = 0.25, caseChainMaxStrata = 1000)
    assert(joined.collect().map(_.getLong(0)).sorted.toSeq ===
      viaCase.collect().map(_.getLong(0)).sorted.toSeq)
    assert(joined.columns.toSeq === Seq("id", "dom")) // helper columns dropped
    // default fallback through the left join: unlisted stratum keeps 25%
    val unlisted = Sampling.stratifiedSample(
      rows.withColumn("dom", lit("never-listed")), "id", "dom", rates,
      defaultPct = 0.25, caseChainMaxStrata = 0)
    val n = unlisted.count()
    assert(n > 800 && n < 1200, s"default-rate fallback broken: $n")
  }

  test("tokenBudgetSelectSinglePass: identical output to the window version, one exchange") {
    import graft.operators.Sampling
    val rows = (0L until 1000L).map(i => (i, 7L, (i % 5) + 1L))
      .toDF("id", "prio", "cost")
      .orderBy(rand(43)).repartition(7)
    val win = Sampling.tokenBudgetSelect(rows, "id", "cost", "prio", 90L)
    val fast = Sampling.tokenBudgetSelectSinglePass(rows, "id", "cost", "prio", 90L)
    try {
      assert(fast.columns.toSeq === win.columns.toSeq)
      assert(fast.select("id").as[Long].collect().sorted.toSeq ===
        win.select("id").as[Long].collect().sorted.toSeq)
      // the whole point: the data moves ONCE. The range exchange is the
      // only shuffle; the window version's second full shuffle (hash on
      // __pid) must be absent — and is PRESENT in the window plan, so the
      // assertion is discriminative. (No occurrence-counting: AQE dumps
      // nested cached plans more than once.)
      val fastPlan = fast.queryExecution.executedPlan.toString
      val winPlan = win.queryExecution.executedPlan.toString
      assert(fastPlan.contains("Exchange rangepartitioning"), fastPlan.take(2000))
      assert(!fastPlan.contains("Exchange hashpartitioning(__pid"), fastPlan.take(2000))
      assert(!fastPlan.contains("SinglePartition"), fastPlan.take(2000))
      assert(winPlan.contains("Exchange hashpartitioning(__pid"), winPlan.take(2000))
      // null costs: same normalization as the window version
      val nullCosts = (0L until 100L)
        .map(i => (i, 7L, if (i % 2 == 0) Some(1L) else None))
        .toDF("id", "prio", "cost")
      val sel = Sampling.tokenBudgetSelectSinglePass(nullCosts, "id", "cost", "prio", 3L)
      try assert(sel.select("id").as[Long].collect().sorted.toSeq === (0L to 5L))
      finally sel.unpersist()
    } finally { win.unpersist(); fast.unpersist() }
  }

  test("withTokenBudgetSelect: loan wrapper releases the cache entry structurally") {
    import graft.operators.Sampling
    val rows = (0L until 100L).map(i => (i, 7L, 1L)).toDF("id", "prio", "cost")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    var during = Set.empty[Int]
    val n = Sampling.withTokenBudgetSelect(rows, "id", "cost", "prio", 10L) { sel =>
      during = spark.sparkContext.getPersistentRDDs.keySet.toSet
      sel.count()
    }
    assert(n === 10L)
    assert((during -- before).nonEmpty, "selection frame was not persisted inside the loan")
    // unpersist is async: poll briefly for the delta to drain
    val deadline = System.nanoTime() + 5_000_000_000L
    def leaked = (spark.sparkContext.getPersistentRDDs.keySet -- before).nonEmpty
    while (leaked && System.nanoTime() < deadline) Thread.sleep(50)
    assert(!leaked, "loan wrapper leaked a persisted frame")
  }

  test("t12/t13 plan shapes: pruned scan for the stratified filter; no single-partition exchange in the prefix sum") {
    val d = "/root/testdata/sf0.001"
    // t12: a pure row predicate — one codegen'd filter over a 2-column scan
    val p12 = graft.SparkEntry.queries("t12_stratified_sample")(spark, d)
      .queryExecution.executedPlan.toString
    assert(p12.contains("ReadSchema: struct<doc_id:bigint,source:string>"), p12.take(1500))
    assert(!p12.contains("Exchange"), p12.take(1500))
    // t13: the distributed prefix sum must never plan the global-order
    // window's single-partition exchange (asserted on the OPERATOR's
    // caller-owned frame — the query entry collects to release the cache)
    val docs = spark.read.parquet(s"$d/documents.parquet")
      .withColumn("n_words_b", size(split(col("text"), " ")).cast("long"))
    val sel = graft.operators.Sampling.tokenBudgetSelect(
      docs, "doc_id", "n_words_b", "n_chars", 10000L)
    try {
      val p13 = sel.queryExecution.executedPlan.toString
      assert(!p13.contains("SinglePartition"), p13.take(2000))
      assert(p13.contains("BroadcastHashJoin"), p13.take(2000)) // offsets ride a broadcast
    } finally sel.unpersist()
  }

  test("tokenOverlapPairs: common-token count respects the ceiling survivors only") {
    val docs = Seq(
      (1L, "x y z w"),
      (2L, "x y z q"),
      (3L, "x p r s")).toDF("id", "t")
    val out = Dedup.tokenOverlapPairs(docs, "id", "t", minCommon = 3, maxDf = 10L)
      .as[(Long, Long, Long)].collect().toSet
    assert(out === Set((1L, 2L, 3L))) // x,y,z common; (1,3)/(2,3) only share x
  }

  test("winnowFingerprints: MOSS guarantee, compression bound, short docs") {
    import graft.operators.TextAnalysis
    val k = 3; val w = 4
    // two documents sharing a run of exactly w + k - 1 = 6 tokens amid
    // otherwise disjoint vocabularies MUST share >= 1 fingerprint
    val shared = "p q r s t u"
    val docs = Seq(
      (1L, s"a1 a2 a3 a4 $shared a5 a6 a7 a8 a9"),
      (2L, s"b1 b2 b3 b4 b5 $shared b6 b7 b8"),
      (3L, "c1 c2 c3 c4 c5 c6 c7 c8 c9 c10 c11 c12"), // unrelated
      (4L, "d1 d2 d3 d4 d5"),                          // 3 grams < w: no rows
      (5L, "e1 e2")).toDF("doc_id", "text")            // < k tokens: no rows
    val fp = TextAnalysis.winnowFingerprints(docs, "doc_id", "text", k, w)
      .as[(Long, String)].collect().groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(fp(1L).intersect(fp(2L)).nonEmpty, "shared 6-token run produced no common fingerprint")
    assert(fp(1L).intersect(fp(3L)).isEmpty && fp(2L).intersect(fp(3L)).isEmpty)
    assert(!fp.contains(4L) && !fp.contains(5L))
    // winnowing selects at most one fingerprint per window position and at
    // least one per ~w positions: |fp| in [ceil(windows/w), windows]
    val nGrams1 = 10 + 6 - k + 1 // 14 grams for doc 1 (16 tokens)
    val windows1 = nGrams1 - w + 1
    assert(fp(1L).size <= windows1 && fp(1L).size >= windows1 / w,
      s"doc1 fingerprint count ${fp(1L).size} outside [${windows1 / w}, $windows1]")
  }

  test("semanticDedupGroups: cosine clusters merge to min-id representative; singletons survive") {
    // 1,2 identical; 3 a scaled copy of 1 (cosine = 1); 4 orthogonal.
    // Identical directions always share every hyperplane bucket, so the
    // cluster {1,2,3} forms regardless of the sampled planes.
    val em = Seq(
      (1L, Seq(1f, 0f, 0f, 0f)),
      (2L, Seq(1f, 0f, 0f, 0f)),
      (3L, Seq(2f, 0f, 0f, 0f)),
      (4L, Seq(0f, 0f, 0f, 1f))).toDF("id", "vec")
    val byId = Dedup.semanticDedupGroups(
        em, "id", "vec", planes = 6, seed = 7L, threshold = 0.9, bands = 2)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(byId === Map(
      1L -> ((1L, true)), 2L -> ((1L, false)),
      3L -> ((1L, false)), 4L -> ((4L, true))))
  }

  test("MisraGries: exact below capacity, lower bounds + bounded state above") {
    import graft.operators.Sketches
    // below capacity: exact counts, (count desc, token asc) order
    val words = Seq.fill(5)("a") ++ Seq.fill(3)("b") ++ Seq.fill(3)("c") ++ Seq("d")
    val df = spark.createDataset(scala.util.Random.shuffle(words)).repartition(4).toDF("w")
    val hh = df.agg(Sketches.misraGries(col("w"), 10)).head()
      .getSeq[org.apache.spark.sql.Row](0)
      .map(r => (r.getString(0), r.getLong(1)))
    assert(hh === Seq(("a", 5L), ("b", 3L), ("c", 3L), ("d", 1L)))
    // above capacity: the heavy hitter survives with a count no LARGER
    // than truth, and state never exceeds capacity entries
    val skew = Seq.fill(60)("hot") ++ (1 to 30).map(i => s"cold$i")
    val df2 = spark.createDataset(scala.util.Random.shuffle(skew)).repartition(4).toDF("w")
    val hh2 = df2.agg(Sketches.misraGries(col("w"), 8)).head()
      .getSeq[org.apache.spark.sql.Row](0)
      .map(r => (r.getString(0), r.getLong(1)))
    assert(hh2.size <= 8)
    assert(hh2.head._1 === "hot")
    assert(hh2.head._2 <= 60L && hh2.head._2 >= 60L - (90L / 9L),
      s"MG error bound n/(capacity+1) violated: ${hh2.head}")
  }

  test("UrlOps.canonicalUrl: case, ports, fragments, trackers, slash runs; non-URLs to empty") {
    import graft.operators.UrlOps
    val cases = Seq(
      // scheme+host lowercase, :80 stripped for http, // collapsed,
      // trailing slash stripped, utm_* dropped, fragment dropped
      ("HTTP://WWW.Ex.COM:80/A//b/?utm_source=x&id=5&utm_campaign=y#top",
        "http://www.ex.com/A/b?id=5", "www.ex.com"),
      // :443 stripped only for https; path case preserved
      ("https://Cdn.Ex.com:443/Path", "https://cdn.ex.com/Path", "cdn.ex.com"),
      // non-default port survives; tracker-only query drops the '?'
      ("http://ex.com:8080/?gclid=abc", "http://ex.com:8080", "ex.com:8080"),
      // root with no path; no query
      ("https://ex.com/", "https://ex.com", "ex.com"),
      // :80 on https is NOT a default port — kept
      ("https://ex.com:80/x", "https://ex.com:80/x", "ex.com:80"),
      // fbclid in the middle; real params keep their order
      ("http://ex.com/p?a=1&fbclid=Z&b=2", "http://ex.com/p?a=1&b=2", "ex.com"),
      // not a URL at all
      ("plain text", "", ""))
    val df = cases.map(_._1).toDF("u")
      .select(col("u"), UrlOps.canonicalUrl(col("u")).as("c"), UrlOps.urlHost(col("u")).as("h"))
    val got = df.collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSeq
    assert(got === cases)
    // idempotence: canonical(canonical(u)) == canonical(u)
    val twice = cases.map(_._2).filter(_.nonEmpty).toDF("u")
      .select(col("u"), UrlOps.canonicalUrl(col("u")).as("c"))
      .collect().map(r => (r.getString(0), r.getString(1)))
    twice.foreach { case (u, c) => assert(u === c, s"not idempotent on $u") }
  }

  test("CountMinCounters: estimates overestimate, exact when collision-free, merge across partitions") {
    import graft.operators.Sketches
    val dep = 4; val w = 64
    val words = Seq.fill(10)("x") ++ Seq.fill(7)("y") ++ (1 to 20).map(i => s"w$i")
    val df = spark.createDataset(scala.util.Random.shuffle(words)).repartition(5).toDF("tok")
    val sketchRow = df.agg(
      Sketches.countMinCounters(Sketches.cmPositions(col("tok"), dep, w), dep, w)
        .as("cm"))
    // total mass per row of the sketch == number of input rows (vector
    // adds across 5 partitions lost nothing)
    val flat = sketchRow.head().getSeq[Long](0)
    assert(flat.size === dep * w)
    (0 until dep).foreach { r =>
      assert(flat.slice(r * w, (r + 1) * w).sum === words.size.toLong, s"row $r mass")
    }
    // point queries: >= truth always; == truth for the heavy keys at this
    // load factor (37 keys over 4x64 cells — min over 4 rows dodges the
    // occasional collision)
    val exact = words.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val probes = df.distinct()
      .crossJoin(broadcast(sketchRow))
      .select(col("tok"), Sketches.cmEstimate(col("cm"), col("tok"), dep, w).as("est"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    probes.foreach { case (tok, est) =>
      assert(est >= exact(tok), s"CM must overestimate: $tok")
    }
    assert(probes("x") === 10L)
    assert(probes("y") === 7L)
  }

  test("KmvMinHashes: k smallest DISTINCT values, ascending, across partition merges") {
    import graft.operators.Sketches
    // duplicates and shuffled arrival across 7 partitions must not matter
    val vals = (1L to 50L) ++ (1L to 50L) ++ Seq(0L, 0L)
    val df = spark.createDataset(scala.util.Random.shuffle(vals)).repartition(7).toDF("h")
    val mins = df.agg(Sketches.kmvMinHashes(col("h"), 5)).head().getSeq[Long](0)
    assert(mins === Seq(0L, 1L, 2L, 3L, 4L))
    // below saturation: every distinct value held, still ascending
    val small = spark.createDataset(Seq(9L, 3L, 9L, 7L)).toDF("h")
    assert(small.agg(Sketches.kmvMinHashes(col("h"), 5)).head().getSeq[Long](0)
      === Seq(3L, 7L, 9L))
  }

  test("kmvDistinct: exact below saturation (null h_k); (k-1)*2^60/h_k at saturation") {
    import graft.operators.Sketches
    val df = (1 to 200).map(i => (if (i <= 40) "small" else "big", s"v$i"))
      .toDF("g", "v")
    val out = Sketches.kmvDistinct(df, Seq("g"), "v", k = 64)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), if (r.isNullAt(2)) None else Some(r.getLong(2)), r.getDouble(3)))).toMap
    // 40 distinct < k: sketch is exact, no k-th hash
    assert(out("small") === ((40L, None, 40.0)))
    // 160 distinct > k: saturated; recompute the estimator independently
    val (nHeld, hk, est) = out("big")
    assert(nHeld === 64L)
    val expected = 63.0 * 1152921504606846976.0 / hk.get.toDouble
    assert(est === expected)
    assert(est > 100.0 && est < 260.0, s"estimate $est wildly off exact 160")
  }

  test("exactDedupAgainstBloom: equals the plain anti-join; both branches exercised") {
    import graft.operators.{BloomSet, Dedup}
    val ref = (0L until 60L).map(i => (i, s"shared text $i")).toDF("doc_id", "text")
    val fresh = ((100L until 130L).map(i => (i, s"novel text $i")) ++
      (130L until 150L).map(i => (i, s"shared text ${i - 130}"))).toDF("doc_id", "text")
    val viaBloom = Dedup.exactDedupAgainstBloom(
      fresh, ref, "doc_id", "text", m = 256, k = 2)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val plain = Dedup.exactDedupAgainst(fresh, ref, "doc_id", "text")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(viaBloom === plain)
    assert(viaBloom === (100L until 130L).toSet)
    // at m=256/k=2 over 60 refs the filter is ~37% full: the maybe-set
    // must exceed the 20 true dups (false positives flow to the verify
    // join) while some rows still short-circuit as definitely-novel
    val bloom = BloomSet.build(
      ref.select(md5(col("text")).as("__rh")).distinct(), "__rh", 256, 2)
    val flags = BloomSet.mightContain(
      fresh.withColumn("__h", md5(col("text"))), "__h", bloom, 256, 2, "maybe")
    val nMaybe = flags.filter(col("maybe")).count()
    assert(nMaybe >= 20, s"all 20 true dups must flag maybe: $nMaybe")
    assert(nMaybe < 50, s"some novel rows must short-circuit: $nMaybe")
  }

  test("HllRegisters: partition-order-invariant, merge = max, estimate within rate") {
    import graft.operators.Sketches
    // 5000 distinct strings across 7 partitions vs one partition: the
    // register array (and hence the estimate) must be identical, and
    // the raw estimate within ~4 standard errors (1.04/√64 ≈ 13%)
    val rows = (1 to 5000).map(i => s"item-$i")
    val df7 = spark.createDataset(scala.util.Random.shuffle(rows)).repartition(7).toDF("v")
    val df1 = spark.createDataset(rows).coalesce(1).toDF("v")
    val r7 = Sketches.hllDistinct(df7.withColumn("g", lit("x")), Seq("g"), "v").head()
    val r1 = Sketches.hllDistinct(df1.withColumn("g", lit("x")), Seq("g"), "v").head()
    assert(r7.getLong(1) === r1.getLong(1) && r7.getLong(2) === r1.getLong(2))
    assert(r7.getDouble(3) === r1.getDouble(3))
    assert(math.abs(r7.getDouble(3) - 5000.0) / 5000.0 < 0.5,
      s"raw estimate ${r7.getDouble(3)} vs 5000")
    // duplicates never move a register: 10× repetition changes nothing
    val dup = spark.createDataset(rows ++ rows ++ rows).toDF("v")
    val rd = Sketches.hllDistinct(dup.withColumn("g", lit("x")), Seq("g"), "v").head()
    assert(rd.getLong(2) === r1.getLong(2))
  }

  test("hllEstimate: linear counting takes over at low cardinality, accurate within 15%") {
    import graft.operators.Sketches
    for (n <- Seq(20, 100, 5000)) {
      val df = spark.createDataset((1 to n).map(i => s"k$i")).toDF("v")
        .withColumn("g", lit("x"))
      val est = Sketches.hllEstimate(df, Seq("g"), "v")
        .head().getAs[Double]("estimate")
      assert(math.abs(est - n) / n < 0.35, s"n=$n est=$est")
    }
  }

  test("scoreBuckets: per-key terciles from the histogram, ties share a bucket, no corpus sort") {
    import graft.operators.Sampling
    // key A: scores 1..9 (no ties) -> clean terciles 3/3/3
    // key B: score 5 × 6 rows + score 9 × 3 rows — the 6-row tie group
    // starts at cum 0 -> bucket 1 for ALL SIX (ties cannot split), the
    // 9s start at cum 6 -> floor(6*3/9)+1 = 3
    val rows = (1 to 9).map(i => ("A", i.toLong, i.toLong)) ++
      (10 to 15).map(i => ("B", i.toLong, 5L)) ++
      (16 to 18).map(i => ("B", i.toLong, 9L))
    val df = rows.toDF("k", "id", "score").repartition(4)
    val out = Sampling.scoreBuckets(df, "k", "score", buckets = 3)
      .select("k", "id", "bucket")
      .as[(String, Long, Int)].collect().map(r => (r._1, r._2) -> r._3).toMap
    assert((1 to 3).forall(i => out(("A", i.toLong)) == 1))
    assert((4 to 6).forall(i => out(("A", i.toLong)) == 2))
    assert((7 to 9).forall(i => out(("A", i.toLong)) == 3))
    assert((10 to 15).forall(i => out(("B", i.toLong)) == 1), "tie group must share bucket 1")
    assert((16 to 18).forall(i => out(("B", i.toLong)) == 3))
    // plan shape: the cumulative window runs over the AGGREGATED
    // histogram — an Aggregate sits below the Window, so the corpus rows
    // are never sorted per key
    val plan = Sampling.scoreBuckets(df, "k", "score", 3)
      .queryExecution.optimizedPlan.toString
    val winIdx = plan.indexOf("Window")
    val aggBelow = plan.indexOf("Aggregate", winIdx)
    assert(winIdx >= 0 && aggBelow > winIdx,
      s"window must consume the histogram aggregate, not corpus rows:\n${plan.take(1500)}")
  }

  test("minhash hot-bucket guard: mega-cluster emits a linear chain, components intact") {
    // 300 identical boilerplate docs (one LSH bucket per band) + one
    // ordinary near-dup pair that must keep exact all-pairs semantics
    val boiler = (0 until 300).map(i => (i.toLong, "copy of the same boilerplate page text"))
    val normal = Seq((1000L, "alpha beta gamma delta"), (1001L, "alpha beta gamma delta"))
    val docs = (boiler ++ normal).toDF("id", "text")
    val pairs = Dedup.minhashCandidatePairs(docs, "id", "text",
      numHashes = 8, rowsPerBand = 4, shingleWidth = 2, maxBucketAllPairs = 50)
    val got = pairs.as[(Long, Long)].collect().toSet
    pairs.unpersist(blocking = true)
    // chain, not all-pairs: 299 consecutive edges instead of 300*299/2
    val chain = (0L until 299L).map(i => (i, i + 1)).toSet
    assert(got.filter(_._1 < 1000L) === chain)
    // the chain still connects the whole mega-cluster into ONE component
    val comps = Graph.connectedComponents(
      spark.createDataset(got.toSeq).toDF("d1", "d2"), "d1", "d2")
    assert(comps.filter(col("node") < 1000L).select("label").distinct().count() === 1L)
    // the small bucket kept exact all-pairs semantics
    assert(got.contains((1000L, 1001L)))
  }

  test("embedding hot-bucket guard: chain edges carry exact cosine, small buckets exact") {
    val mega = (0 until 200).map(i => (i.toLong, Array.fill(8)(1f)))
    val other = Seq((500L, Array.fill(8)(-1f)), (501L, Array.fill(8)(-1f)))
    val vecs = (mega ++ other).toDF("id", "v")
    val pairs = Dedup.embeddingNearDupPairs(vecs, "id", "v",
      planes = 4, seed = 7L, threshold = 0.9, bands = 1, maxBucketAllPairs = 40)
    val got = pairs.select("d1", "d2", "cosine")
      .as[(Long, Long, Double)].collect()
    pairs.unpersist(blocking = true)
    val megaPairs = got.filter(_._1 < 500L)
    // linear chain over the identical-vector mega-bucket, cosine ~1
    // (d/(sqrt(n)*sqrt(n)) is one ulp off exact 1.0 for identical vectors)
    assert(megaPairs.map(p => (p._1, p._2)).toSet ===
      (0L until 199L).map(i => (i, i + 1)).toSet)
    assert(megaPairs.forall(_._3 > 0.9999999))
    // the 2-member bucket still goes through the exact all-pairs branch
    assert(got.map(p => (p._1, p._2)).contains((500L, 501L)))
  }

  test("nearDupAgainst: cross-corpus verdicts, ref hot-bucket cap keeps recall") {
    val boiler = (1 to 30).map(i => s"tok$i").mkString(" ")
    // reference: 100 identical boilerplate docs (ONE bucket per band)
    val ref = (1000 until 1100).map(i => (i.toLong, boiler)).toDF("doc_id", "text")
    val novel = (1 to 30).map(i => s"zzz$i").mkString(" ")
    val news = Seq((1L, boiler), (2L, novel)).toDF("doc_id", "text")
    val out = Dedup.nearDupAgainst(news, ref, "doc_id", "text",
      refPerBucketCap = 5) // cap bites: only 5 of 100 refs stay per bucket
      .collect().map(r => r.getLong(0) ->
        ((if (r.isNullAt(1)) -1L else r.getLong(1)), r.getBoolean(2))).toMap
    // the capped bucket still answers: doc 1 IS already in the corpus
    assert(out(1L)._2, "boilerplate new doc must be flagged against the capped bucket")
    assert(out(1L)._1 >= 1000L && out(1L)._1 < 1100L)
    assert(!out(2L)._2 && out(2L)._1 == -1L, "novel doc must pass")
    // exact cross-corpus sweep drops only exact-hash matches
    val kept = Dedup.exactDedupAgainst(news, ref, "doc_id", "text")
      .select("doc_id").as[Long].collect().toSet
    assert(kept === Set(2L))
  }

  test("hot-bucket guard is a no-op below the ceiling (same pairs either way)") {
    val docs = (0 until 80).map(i =>
      (i.toLong, s"tok${i % 6}a tok${i % 6}b tok${i % 6}c word$i")).toDF("id", "text")
    val capped = Dedup.minhashCandidatePairs(docs, "id", "text", 8, 4, 2,
      maxBucketAllPairs = 1024)
    val cappedSet = capped.as[(Long, Long)].collect().toSet
    capped.unpersist(blocking = true)
    val tiny = Dedup.minhashCandidatePairs(docs, "id", "text", 8, 4, 2,
      maxBucketAllPairs = 1000000)
    val unSet = tiny.as[(Long, Long)].collect().toSet
    tiny.unpersist(blocking = true)
    assert(cappedSet === unSet)
  }

  test("cdcChunks: an insertion perturbs ONE chunk; fixed-stride shifts them all") {
    // deterministic 200-token text (tokens vary so boundary tokens occur)
    val text = (1 to 200).map(i => s"tok$i").mkString(" ")
    val shifted = "inserted " + text
    val df = Seq((1L, text), (2L, shifted)).toDF("id", "text")
    val rows = df.select(col("id"), Dedup.cdcChunks(col("text")).as("ch"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    val a = rows(1L)
    val b = rows(2L)
    assert(a.nonEmpty && a.forall(_.nonEmpty))
    // concatenating the chunks reconstructs the document exactly
    assert(a.mkString(" ") === text && b.mkString(" ") === shifted)
    // content-defined boundaries RE-SYNC after the insertion: every chunk
    // of the original except (at most) the first survives verbatim
    val shared = a.toSet.intersect(b.toSet).size
    assert(shared >= a.size - 1,
      s"CDC should re-sync: only $shared of ${a.size} chunks survived the edit")
    // the fixed-stride counterpart shares (almost) nothing after a
    // 1-token front insertion — the weakness CDC exists to fix
    val fixedA = graft.operators.Shingles.tokenChunks(lit(text), 10)
    val fixedB = graft.operators.Shingles.tokenChunks(lit(shifted), 10)
    val fa = spark.range(1).select(fixedA).head().getSeq[String](0).toSet
    val fb = spark.range(1).select(fixedB).head().getSeq[String](0).toSet
    assert(fa.intersect(fb).size <= 1)
  }

  test("cdcChunkDedup: shared passage dedups across docs despite offset shift") {
    val passage = (1 to 60).map(i => s"p$i").mkString(" ")
    val docs = Seq(
      (1L, passage),
      (2L, "completely different preamble text here " + passage)).toDF("id", "text")
    val out = Dedup.cdcChunkDedup(docs, "id", "text")
      .orderBy("id").collect()
    out.foreach(_ => ())
    // doc 1 keeps everything (first occurrence)
    assert(out(0).getLong(1) === out(0).getLong(2))
    // doc 2 loses most of its chunks to doc 1's copy of the passage —
    // with fixed-stride chunking the shifted offsets would keep them all
    assert(out(1).getLong(2) < out(1).getLong(1),
      s"doc 2 should lose shared chunks, got ${out(1)}")
  }

  test("bottomKSampleValues: exact below saturation, bounded + partition-invariant above") {
    import graft.operators.Sketches
    // below saturation: the sample IS the group → quantiles are exact
    val small = (1 to 100).map(i => (i.toLong, "g", i.toDouble)).toDF("id", "g", "v")
    val q = Sketches.sampledQuantiles(small, Seq("g"), "v", "id", k = 256,
      qs = Seq(0.5, 0.9)).head()
    assert(q.getLong(1) === 100L)
    assert(q.getDouble(2) === 50.0) // ceil(0.5·100) = rank 50
    assert(q.getDouble(3) === 90.0)
    // above saturation: n_sample caps at k and the result is identical
    // however the rows were partitioned (order-independent merge)
    val big = (1 to 5000).map(i => (i.toLong, "g", i.toDouble)).toDF("id", "g", "v")
    val r1 = Sketches.sampledQuantiles(big.repartition(1), Seq("g"), "v", "id",
      k = 64, qs = Seq(0.5, 0.99)).head()
    val r7 = Sketches.sampledQuantiles(big.repartition(7), Seq("g"), "v", "id",
      k = 64, qs = Seq(0.5, 0.99)).head()
    assert(r1.getLong(1) === 64L && r7.getLong(1) === 64L)
    assert(r1.getDouble(2) === r7.getDouble(2) && r1.getDouble(3) === r7.getDouble(3))
    // the sampled median of 1..5000 should be in the middle half
    assert(r1.getDouble(2) > 1250.0 && r1.getDouble(2) < 3750.0)
  }

  test("BpeTrain.learnMerges: argmax merge, deterministic tie-break, non-overlap fold") {
    import graft.operators.BpeTrain
    // "a b" dominates; after merging it the pair (a_b, c) ties (c, a_b)
    // at 2 and wins on the lexical tie-break
    val docs = Seq("a b c a b c a b").toDF("text")
    val m = BpeTrain.learnMerges(docs, "text", k = 2, joiner = "_")
    assert(m.map(x => (x.left, x.right, x.count)) ===
      Seq(("a", "b", 3L), ("a_b", "c", 2L)))
    // non-overlapping left-to-right: "a a a a" merges to two a_a symbols,
    // whose single adjacent pair is below minCount → exactly one merge
    val rep = Seq("a a a a").toDF("text")
    val m2 = BpeTrain.learnMerges(rep, "text", k = 3, joiner = "_")
    assert(m2.map(x => (x.left, x.right, x.count)) === Seq(("a", "a", 3L)))
    // pairCounts on the raw corpus agrees with hand counts
    val pc = BpeTrain.pairCounts(docs, "text")
      .orderBy(col("n").desc, col("left"), col("right"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    assert(pc.head === (("a", "b", 3L)))
    assert(pc.toSet === Set(("a", "b", 3L), ("b", "c", 2L), ("c", "a", 2L)))
  }

  test("BpeTrain.learnMerges: batched acceptance stays on the exact sequential trajectory") {
    import graft.operators.BpeTrain
    // tiny alphabet forces dense symbol-sharing among top candidates —
    // the regime where a naive batch would leave the greedy trajectory
    val alpha = Array("a", "b", "c", "d", "e")
    for (seed <- Seq(7L, 41L, 1234L)) {
      val rnd = new scala.util.Random(seed)
      val corpus = (1 to 60)
        .map(_ => Seq.fill(3 + rnd.nextInt(10))(alpha(rnd.nextInt(alpha.length)))
          .mkString(" "))
        .toDF("text")
      val seq1 = BpeTrain.learnMerges(corpus, "text", k = 10, joiner = "_", batch = 1)
      val b4 = BpeTrain.learnMerges(corpus, "text", k = 10, joiner = "_", batch = 4)
      val b16 = BpeTrain.learnMerges(corpus, "text", k = 10, joiner = "_", batch = 16)
      assert(b4 === seq1, s"batch=4 left the greedy trajectory (seed $seed)")
      assert(b16 === seq1, s"batch=16 left the greedy trajectory (seed $seed)")
    }
    // planted emergent-pair trap: "a b" wins round 1; the emergent pair
    // (a_b, a_b) then counts 2 while pre-existing (c, d) also counts 2 —
    // a batch that accepted (c,d) alongside (a,b) would order the table
    // wrong if the emergent pair outranked it lexically at its step
    val trap = Seq("a b a b", "a b a b", "c d", "c d").toDF("text")
    val sTrap = BpeTrain.learnMerges(trap, "text", k = 3, joiner = "_", batch = 1)
    val bTrap = BpeTrain.learnMerges(trap, "text", k = 3, joiner = "_", batch = 8)
    assert(bTrap === sTrap)
    // SELF-pair trap: (a,a) wins round 1 and its EMERGENT pairs
    // (a_a,a)/(a_a,a_a) are enabled by the accepted merge itself, so a
    // batch that accepted (b,c) alongside (a,a) would skip the emergent
    // (a_a,a)=40 that truly outranks it. The batch must end at the
    // self-pair: both learn [(a,a,160),(a_a,a,40)].
    val selfTrap = (Seq.fill(40)("a a a a a") ++ Seq.fill(20)("b c")).toDF("text")
    val sSelf = BpeTrain.learnMerges(selfTrap, "text", k = 2, joiner = "_", batch = 1)
    val bSelf = BpeTrain.learnMerges(selfTrap, "text", k = 2, joiner = "_", batch = 2)
    assert(sSelf.map(x => (x.left, x.right, x.count)) ===
      Seq(("a", "a", 160L), ("a_a", "a", 40L)))
    assert(bSelf === sSelf, "batched self-pair acceptance left the greedy trajectory")
    // self-pair ranked BELOW a disjoint winner: batch ends at it without
    // accepting; the earlier accepts keep their strict-trim guarantee
    val mixed = (Seq.fill(30)("x y") ++ Seq.fill(20)("a a a") ++ Seq.fill(5)("p q"))
      .toDF("text")
    val sMix = BpeTrain.learnMerges(mixed, "text", k = 3, joiner = "_", batch = 8)
    val bMix = BpeTrain.learnMerges(mixed, "text", k = 3, joiner = "_", batch = 1)
    assert(sMix === bMix, "mid-list self-pair broke the batched trajectory")
  }

  test("imageNearDupPairs: complete for maxHamming <= bands-1; dims separate; nulls dropped") {
    // hand-built 64-bit hashes, one (w,h) family: base 0xFFFF00000000FFFFL
    // with planted flips spread across DIFFERENT 16-bit bands — the
    // pigeonhole completeness claim is exactly that k <= bands-1 flips
    // still leave one band identical
    val base = 0xFFFF00000000FFFFL
    def flip(bits: Int*) = bits.foldLeft(base)((h, b) => h ^ (1L << b))
    val rows = Seq(
      (1L, 8, 8, Some(base)),
      (2L, 8, 8, Some(flip(0))),            // hamming 1 (band 0)
      (3L, 8, 8, Some(flip(0, 17, 33))),    // hamming 3, flips in 3 bands
      (4L, 8, 8, Some(flip(0, 17, 33, 49))),// hamming 4, one flip per band
      (5L, 4, 4, Some(base)),               // same hash, DIFFERENT dims
      (6L, 8, 8, None)                      // undecodable
    ).toDF("id", "w", "h", "ahash")
    val pairs = Dedup.imageNearDupPairs(rows, "id", "w", "h", "ahash",
      maxHamming = 3, bands = 4)
    val got =
      try pairs.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      finally pairs.unpersist(blocking = false)
    // 1-2 (ham 1), 1-3 (ham 3: bands 1 unchanged? flips hit bands 0,1,2 →
    // band 3 identical), 2-3 (ham 2) all found; 4 differs from 1 in EVERY
    // band at hamming 4 — over maxHamming anyway; 5 never pairs (dims);
    // 6 dropped
    assert(got === Set((1L, 2L, 1), (1L, 3L, 3), (2L, 3L, 2),
      (2L, 4L, 3), (3L, 4L, 1)))
    // census check of the completeness regime: every same-dims pair with
    // hamming <= 3 is present (brute-force cross-check)
    val hs = Map(1L -> base, 2L -> flip(0), 3L -> flip(0, 17, 33),
      4L -> flip(0, 17, 33, 49))
    val brute = for {
      a <- hs.keys; b <- hs.keys if a < b
      d = java.lang.Long.bitCount(hs(a) ^ hs(b)) if d <= 3
    } yield (a, b, d)
    assert(got === brute.toSet)
  }

  test("incrementalNearDupPairs: identity vs full recompute; only delta texts re-sign") {
    import graft.operators.IncrementalCurate
    def doc(i: Int, tag: String) =
      (i.toLong, (1 to 12).map(j => s"$tag${i}t$j").mkString(" "))
    // v1: docs 1-20; planted near-dup pair (3, 4) share a text
    val v1 = ((1 to 20).map(doc(_, "a")) :+ (104L, doc(3, "a")._2))
      .toDF("doc_id", "text")
    // v2: drop 7, change 5, add 21 and a COPY of 9 (new pair via delta)
    val v2 = ((1 to 20).filterNot(_ == 7)
      .map(i => if (i == 5) doc(5, "b") else doc(i, "a"))
      ++ Seq(doc(21, "a"), (109L, doc(9, "a")._2), (104L, doc(3, "a")._2)))
      .toDF("doc_id", "text")
    val v1Bands = Dedup.minhashBandRows(v1, "doc_id", "text",
      numHashes = 4, rowsPerBand = 2, shingleWidth = 2).persist()
    val v1Pairs = Dedup.pairsFromBandRows(v1Bands)
    val (newBands, incr) = IncrementalCurate.incrementalNearDupPairs(
      v1, v2, v1Bands, v1Pairs, "doc_id", "text",
      numHashes = 4, rowsPerBand = 2, shingleWidth = 2)
    val got =
      try incr.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      finally { incr.unpersist(blocking = false) }
    val full = Dedup.pairsFromBandRows(
      Dedup.minhashBandRows(v2, "doc_id", "text",
        numHashes = 4, rowsPerBand = 2, shingleWidth = 2))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === full, "incremental pair set diverged from full recompute")
    // the carried pair survives, the delta-born pair appears
    assert(got.contains((3L, 104L)), "carried v1 pair lost")
    assert(got.contains((9L, 109L)), "delta-born pair missing")
    // the new band cache equals a from-scratch build over v2 (the next
    // snapshot's carry correctness depends on this)
    val gotBands =
      try newBands.collect().map(r => (r.getLong(0), r.getInt(1), r.get(2))).toSet
      finally { newBands.unpersist(blocking = false); v1Bands.unpersist(blocking = false) }
    val fullBands = Dedup.minhashBandRows(v2, "doc_id", "text",
      numHashes = 4, rowsPerBand = 2, shingleWidth = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.get(2))).toSet
    assert(gotBands === fullBands, "carried band cache diverged")
  }

  test("incrementalNearDupPairs: hot delta-touched bucket fails LOUD, not quadratic") {
    import graft.operators.IncrementalCurate
    def doc(i: Int, tag: String) =
      (i.toLong, (1 to 12).map(j => s"$tag${i}t$j").mkString(" "))
    val v1 = (1 to 5).map(doc(_, "a")).toDF("doc_id", "text")
    // v2 adds a MEGA-CLUSTER: 10 planted copies of one boilerplate text —
    // identical band rows land them all in one bucket, over the ceiling
    val boiler = (1 to 12).map(j => s"boilt$j").mkString(" ")
    val v2 = ((1 to 5).map(doc(_, "a")) ++
      (100 to 109).map(i => (i.toLong, boiler))).toDF("doc_id", "text")
    val v1Bands = Dedup.minhashBandRows(v1, "doc_id", "text",
      numHashes = 4, rowsPerBand = 2, shingleWidth = 2).persist()
    val v1Pairs = Dedup.pairsFromBandRows(v1Bands)
    val ex = intercept[IllegalArgumentException] {
      val (nb, pairs) = IncrementalCurate.incrementalNearDupPairs(
        v1, v2, v1Bands, v1Pairs, "doc_id", "text",
        numHashes = 4, rowsPerBand = 2, shingleWidth = 2,
        maxBucketAllPairs = 4)
      // materialization point in case the guard were ever made lazy
      pairs.count(); nb.count()
    }
    v1Bands.unpersist(blocking = false)
    assert(ex.getMessage.contains("delta-touched bucket"),
      s"guard message should name the bucket: ${ex.getMessage}")
    assert(ex.getMessage.contains("maxBucketAllPairs=4"))
    // the same corpus passes with an adequate ceiling (10 copies → 10-row
    // buckets; default 1024 obviously clears, 16 is the tight bound here)
    val (nb2, p2) = IncrementalCurate.incrementalNearDupPairs(
      v1, v2, v1Bands, v1Pairs, "doc_id", "text",
      numHashes = 4, rowsPerBand = 2, shingleWidth = 2,
      maxBucketAllPairs = 16)
    try {
      // all C(10,2) boilerplate pairs present — the guard never trades
      // completeness, it only refuses to run the quadratic silently
      val got = p2.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val want = (for { a <- 100 to 109; b <- 100 to 109 if a < b }
        yield (a.toLong, b.toLong)).toSet
      assert(want.subsetOf(got))
    } finally {
      p2.unpersist(blocking = false); nb2.unpersist(blocking = false)
    }
  }

  test("readability: punctuated text — hand-counted Flesch components") {
    import graft.operators.TextAnalysis
    // "See the cat. It sat!" — 5 words, 2 sentences,
    // syllable runs: s[ee] th[e] c[a]t [I]t s[a]t = 5
    val df = Seq((1L, "See the cat. It sat!"), (2L, ""), (3L, "pfft brrr"))
      .toDF("id", "t")
    val r = TextAnalysis.readability(df, "id", "t")
      .collect().map(x => x.getLong(0) ->
        (x.getLong(1), x.getLong(2), x.getLong(3), x.getDouble(4))).toMap
    assert(r(1L)._1 == 5L && r(1L)._2 == 2L && r(1L)._3 == 5L)
    assert(r(1L)._4 == 206.835 - 1.015 * (5.0 / 2.0) - 84.6 * (5.0 / 5.0))
    // empty doc: clamped denominators keep the score finite
    assert(r(2L)._1 == 0L && !r(2L)._4.isNaN && !r(2L)._4.isInfinite)
    // vowel-free words: 0 syllables, score is the pure length terms
    assert(r(3L)._3 == 0L &&
      r(3L)._4 == 206.835 - 1.015 * 2.0 - 84.6 * 0.0)
  }
}
