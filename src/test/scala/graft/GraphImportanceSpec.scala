package graft

import graft.operators.{Graph, Importance}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Semantics of the iterative-graph (PageRank) and importance-weighting
  * (DSIR) operators on handcrafted graphs/corpora where the intended
  * math is checkable by hand — the g1/t33 DuckDB oracles check the same
  * constructions statistically at sf0.01; this pins the INTENDED
  * semantics so oracle-and-code drift can't slip through.
  */
class GraphImportanceSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark
  import spark.implicits._

  private def edges(rows: (String, String, Long)*): DataFrame =
    rows.toSeq.toDF("src", "dst", "w")

  test("pageRank: symmetric 2-cycle converges to uniform, ranks sum to 1") {
    // a <-> b: perfectly symmetric, every iteration keeps 1/2 each
    val e = edges(("a", "b", 1L), ("b", "a", 1L))
    val r = Graph.pageRank(e, "src", "dst", "w", iterations = 7)
      .collect().map(x => x.getString(0) -> x.getDouble(1)).toMap
    assert(math.abs(r("a") - 0.5) < 1e-12)
    assert(math.abs(r("b") - 0.5) < 1e-12)
  }

  test("minLabelPropagation: k rounds = min id within k hops; converges to components") {
    // path component 1-2-3-4 plus isolated pair 10-11 (symmetrized)
    val e0 = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L)).toDF("src", "dst")
    val e = e0.union(e0.select($"dst".as("src"), $"src".as("dst")))
    def labels(k: Int): Map[Long, Long] =
      graft.operators.Graph.minLabelPropagation(e, "src", "dst", k)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // 1 round: node 4 only sees 3; node 3 sees 2
    assert(labels(1) === Map(1L -> 1L, 2L -> 1L, 3L -> 2L, 4L -> 3L, 10L -> 10L, 11L -> 10L))
    // 3 rounds: the whole path has flooded to 1; the pair stays at 10
    assert(labels(3) === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 10L -> 10L, 11L -> 10L))
    // extra rounds are a fixpoint
    assert(labels(5) === labels(3))
  }

  test("connectedComponents: pointer jumping matches union-find on a random graph; high-diameter chain converges") {
    // random sparse graph vs a driver-side union-find ground truth
    val rng = new scala.util.Random(11)
    val edges = Seq.fill(300)((rng.nextInt(200).toLong, rng.nextInt(200).toLong))
    val parent = Array.tabulate(200)(identity)
    def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r); r }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a.toInt), find(b.toInt))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val want = edges.flatMap(e => Seq(e._1, e._2)).distinct
      .map(n => n -> {
        // component label = min node id in the component, among TOUCHED nodes
        val root = find(n.toInt)
        edges.flatMap(e => Seq(e._1, e._2)).distinct
          .filter(m => find(m.toInt) == root).min
      }).toMap
    val got = Graph.connectedComponents(edges.toDF("src", "dst"), "src", "dst")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === want)
    // a 300-node chain (diameter 299): plain min-prop would need 299
    // rounds; pointer jumping must land well inside the default 50
    val chain = (0L until 299L).map(i => (i, i + 1)).toDF("src", "dst")
    val labs = Graph.connectedComponents(chain, "src", "dst")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labs.size === 300 && labs.values.forall(_ == 0L))
    // BOTH paths pinned explicitly: the DISTRIBUTED loop — called by
    // name — must refuse a partial labeling LOUD on too-small maxRounds…
    val ex = intercept[IllegalArgumentException] {
      Graph.connectedComponentsDistributed(chain, "src", "dst", maxRounds = 3)
    }
    assert(ex.getMessage.contains("not converged"))
    // …must converge inside the default rounds on the same chain, and
    // must agree exactly with the driver-side union-find (`labs` above,
    // which ignores maxRounds by contract — it has no partial answer)
    val dist = Graph.connectedComponentsDistributed(chain, "src", "dst",
      maxRounds = 50)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(dist === labs)
  }

  test("hits: hand-computed 2-round scores on a small bipartite graph; duplicate edges ignored") {
    // c1 -> {p1, p2}, c2 -> {p2}; h0 = 1
    // a1: p1 = 1, p2 = 2; h1: c1 = a1(p1)+a1(p2) = 3, c2 = a1(p2) = 2
    // a2: p1 = h1(c1) = 3, p2 = h1(c1)+h1(c2) = 5
    val e = Seq(("c1", "p1"), ("c1", "p2"), ("c2", "p2"), ("c2", "p2"))
      .toDF("s", "d") // the duplicate (c2, p2) must count once
    val r = Graph.hits(e, "s", "d", rounds = 2)
      .collect().map(x => x.getString(0) -> (x.getLong(1), x.getLong(2))).toMap
    assert(r("p1") === ((0L, 3L)))
    assert(r("p2") === ((0L, 5L)))
    assert(r("c1") === ((8L, 0L))) // h2: c1 = a2(p1)+a2(p2) = 8
    assert(r("c2") === ((5L, 0L))) // h2: c2 = a2(p2) = 5
  }

  test("hits: actual BIGINT overflow fails LOUD on the wide path (never a silent wrap)") {
    // complete bipartite 64x64: maxIn = maxOut = 64 => 12 bits per round;
    // 6 rounds really does grow h to 64^12 = 2^72 > 2^63 (growth equals
    // the worst case on a complete bipartite graph) — the DECIMAL(38,0)
    // wide path carries it exactly, then the BIGINT narrowing must fail
    // LOUD, because a silent non-ANSI sum() wrap would return wrong
    // rankings
    val dense = (for (i <- 0 until 64; j <- 0 until 64)
      yield (s"u$i", s"v$j")).toDF("s", "d")
    val ex = intercept[Throwable] {
      Graph.hits(dense, "s", "d", rounds = 6).collect()
    }
    def chain(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ chain(x.getCause))
    assert(chain(ex).exists(_.contains("exceeds BIGINT")))
    // the same graph within the static bound still runs (5*12=60 bits)
    assert(Graph.hits(dense, "s", "d", rounds = 2).count() === 128L)
  }

  test("hits: benign configs past the conservative static bound run exactly (wide path)") {
    // directed 4-cycle: every in/out degree is 1, scores stay pinned at 1
    // forever — rounds = 70 exceeds the static 62-bit worst case (1 bit
    // per round) yet the ACTUAL scores never grow; the old a-priori
    // require refused this, the wide path must return exact 1s as longs
    val cycle = Seq(("a", "b"), ("b", "c"), ("c", "d"), ("d", "a")).toDF("s", "d")
    val r = Graph.hits(cycle, "s", "d", rounds = 70)
      .collect().map(x => x.getString(0) -> (x.getLong(1), x.getLong(2))).toMap
    assert(r.size === 4)
    assert(r.values.forall(_ == ((1L, 1L))))
  }

  test("sortedNeighborhoodPairs: window candidates match the rank-distance definition") {
    import graft.operators.Dedup
    val df = Seq((1L, "apple"), (2L, "apply"), (3L, "appel"), (4L, "apple"),
      (5L, "banana"), (6L, "bananna"), (7L, "band"))
      .toDF("id", "k")
    val got = Dedup.sortedNeighborhoodPairs(df, "id", "k", window = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // block 'a' sort order: (appel,3) (apple,1) (apple,4) (apply,2)
    // block 'b' sort order: (banana,5) (bananna,6) (band,7)
    val expected = Set(
      (3L, 1L), (3L, 4L), (1L, 4L), (1L, 2L), (4L, 2L),
      (5L, 6L), (5L, 7L), (6L, 7L))
    assert(got === expected)
  }

  test("sortedNeighborhoodPairs: one giant block spans partitions — boundary tails heal the seams") {
    import graft.operators.Dedup
    // ALL keys share the 1-char prefix 'Z' (the natural-skew worst case a
    // per-block window would sort in ONE task); n >> shuffle partitions so
    // the block provably spans many range partitions. Closed form for a
    // single block of n distinct keys, window w: n·w − w(w+1)/2.
    val n = 5000
    val w = 3
    val df = spark.range(n)
      .select(col("id"), format_string("Z%09d", col("id")).as("k"))
      .repartition(16) // scattered input — the operator must re-range it
    val pairs = Dedup.sortedNeighborhoodPairs(df.toDF(), "id", "k", window = w)
    assert(pairs.count() === n.toLong * w - w * (w + 1) / 2)
    // spot-check the seam semantics: every d2 pairs with its w sort
    // predecessors, which for key = zero-padded id is just id-1..id-w
    val got = pairs.filter(col("d2") === 2500)
      .collect().map(_.getLong(0)).toSet
    assert(got === Set(2497L, 2498L, 2499L))
    pairs.unpersist()
  }

  test("weightedPerKey: weights move the quantile where counts would not") {
    import graft.operators.Percentiles
    // values 1,2,3 once each, but value 3 carries 98% of the weight:
    // the weighted median is 3 while the unweighted median is 2
    val df = Seq(("k", 1L, 1L), ("k", 2L, 1L), ("k", 3L, 98L))
      .toDF("g", "v", "w")
    val r = Percentiles.weightedPerKey(df, "g", "v", "w", Seq(50)).head()
    assert(r.getLong(1) === 100L) // total_w
    assert(r.getLong(2) === 3L)   // weighted p50
    val u = Percentiles.perKey(df, "g", "v", Seq(50)).head()
    assert(u.getLong(2) === 2L)   // unweighted p50 for contrast
  }

  test("applyMerges: left-to-right greedy, table order, chained merges") {
    import graft.operators.BpeTrain
    val df = Seq((1L, "a a a"), (2L, "x y z x y"), (3L, "")).toDF("id", "t")
    // merge (a,a): greedy left-to-right pairs the FIRST two, leaves the third
    val m1 = BpeTrain.applyMerges(df, "t", Seq(("a", "a")))
      .orderBy("id").collect()
    assert(m1(0).getSeq[String](2) === Seq("a▁a", "a"))
    assert(m1(2).getSeq[String](2) === Seq.empty && m1(2).getLong(3) === 0L)
    // chained: (x,y) then (x▁y,z) — the second consumes the first's output
    val m2 = BpeTrain.applyMerges(df, "t", Seq(("x", "y"), ("x▁y", "z")))
      .orderBy("id").collect()
    assert(m2(1).getSeq[String](2) === Seq("x▁y▁z", "x▁y"))
  }

  test("pageRank: authority ordering — a hub-pointed node outranks leaves") {
    // star: l1,l2,l3 -> c, c -> l1 (c has out-edges so no dangling)
    val e = edges(("l1", "c", 1L), ("l2", "c", 1L), ("l3", "c", 1L),
      ("c", "l1", 1L))
    val r = Graph.pageRank(e, "src", "dst", "w", iterations = 20)
      .collect().map(x => x.getString(0) -> x.getDouble(1)).toMap
    assert(r("c") > r("l1"), s"center must outrank leaves: $r")
    assert(r("l1") > r("l2"), "l1 receives c's mass, l2/l3 only teleport")
    assert(math.abs(r("l2") - r("l3")) < 1e-15, "symmetric leaves tie")
  }

  test("pageRank: dangling mass leaks (documented weak-PageRank convention)") {
    // a -> b, b dangling: total rank < 1 but > teleport floor
    val e = edges(("a", "b", 1L))
    val rs = Graph.pageRank(e, "src", "dst", "w", iterations = 30)
      .agg(sum("rank")).head().getDouble(0)
    assert(rs < 1.0 && rs > 0.15, s"dangling graph mass should leak: $rs")
  }

  test("pageRank: edge weights skew mass proportionally") {
    // a -> b (weight 3), a -> c (weight 1); b and c point back
    val e = edges(("a", "b", 3L), ("a", "c", 1L),
      ("b", "a", 1L), ("c", "a", 1L))
    val r = Graph.pageRank(e, "src", "dst", "w", iterations = 25)
      .collect().map(x => x.getString(0) -> x.getDouble(1)).toMap
    assert(r("b") > r("c"), "3:1 out-weight must rank b above c")
  }

  test("pageRank: exact mode equals the unordered-sum mode to float tolerance") {
    val e = edges(("a", "b", 2L), ("b", "c", 1L), ("c", "a", 1L),
      ("a", "c", 1L), ("c", "b", 5L), ("b", "a", 3L))
    val plain = Graph.pageRank(e, "src", "dst", "w", iterations = 6)
      .collect().map(x => x.getString(0) -> x.getDouble(1)).toMap
    val exact = Graph.pageRank(e, "src", "dst", "w", iterations = 6,
      exact = true)
      .collect().map(x => x.getString(0) -> x.getDouble(1)).toMap
    plain.keys.foreach { k =>
      assert(math.abs(plain(k) - exact(k)) < 1e-12, s"mode drift at $k")
    }
  }

  test("pageRank: advance(start, k) == pageRank(2k) — block iteration composes") {
    val e = edges(("a", "b", 1L), ("b", "c", 2L), ("c", "a", 1L),
      ("b", "a", 1L))
    val full = Graph.pageRank(e, "src", "dst", "w", iterations = 6)
      .collect().map(x => x.getString(0) -> x.getDouble(1)).toMap
    val half = Graph.pageRank(e, "src", "dst", "w", iterations = 3,
      checkpoint = true)
    val comp = Graph.advance(e, "src", "dst", "w", half, iterations = 3)
      .collect().map(x => x.getString(0) -> x.getDouble(1)).toMap
    full.keys.foreach { k =>
      assert(math.abs(full(k) - comp(k)) < 1e-12, s"composition drift at $k")
    }
  }

  test("pageRank invariants on seeded random graphs: mass ≈ 1, teleport floor holds") {
    // every node gets an out-edge by construction (no dangling leak), so
    // total mass must be 1 to fp tolerance and no rank can fall below
    // the teleport floor (1-d)/N — checked across seeds
    for (seed <- Seq(1, 7, 23)) {
      val rnd = new scala.util.Random(seed)
      val n = 30
      val es = (0 until n).flatMap { v =>
        (0 until 1 + rnd.nextInt(4)).map { _ =>
          (s"n$v", s"n${rnd.nextInt(n)}", 1L + rnd.nextInt(5))
        }
      }
      import spark.implicits._
      val r = Graph.pageRank(es.toDF("src", "dst", "w"), "src", "dst", "w",
        iterations = 25)
        .collect().map(_.getDouble(1))
      val mass = r.sum
      assert(math.abs(mass - 1.0) < 1e-9, s"seed $seed: mass $mass")
      val floor = 0.15 / r.length
      assert(r.forall(_ >= floor - 1e-12), s"seed $seed: below teleport floor")
    }
  }

  test("pageRankConverged: stops once the vector is stable") {
    val e = edges(("a", "b", 1L), ("b", "a", 1L))
    val (r, iters) = Graph.pageRankConverged(e, "src", "dst", "w",
      tol = 1e-9, maxIterations = 30, blockIters = 5)
    assert(iters <= 15, s"symmetric 2-cycle must converge fast, took $iters")
    val m = r.collect().map(x => x.getString(0) -> x.getDouble(1)).toMap
    assert(math.abs(m("a") - 0.5) < 1e-9)
  }

  test("personalizedPageRank: teleport mass concentrates around the seed set") {
    import spark.implicits._
    // two symmetric communities bridged weakly: a<->b, c<->d, b->c (1)
    val e = edges(("a", "b", 10L), ("b", "a", 10L),
      ("c", "d", 10L), ("d", "c", 10L), ("b", "c", 1L))
    val seeded = Graph.personalizedPageRank(
      e, "src", "dst", "w", Seq("a").toDF("node"), "node", iterations = 20)
      .collect().map(x => x.getString(0) -> x.getDouble(1)).toMap
    // the seed community must dominate; the far community only receives
    // leaked bridge mass
    assert(seeded("a") > seeded("c") && seeded("b") > seeded("c"),
      s"seed community must outrank the far one: $seeded")
    assert(seeded("a") > seeded("b"), "the seed itself gets the teleport mass")
    assert(seeded("c") > 0.0, "bridge-reachable nodes keep nonzero rank")
  }

  test("personalizedPageRank: unreachable nodes converge toward zero") {
    import spark.implicits._
    // z -> y is a separate component, unreachable from seed a
    val e = edges(("a", "b", 1L), ("b", "a", 1L), ("z", "y", 1L), ("y", "z", 1L))
    val r = Graph.personalizedPageRank(
      e, "src", "dst", "w", Seq("a").toDF("node"), "node", iterations = 30)
      .collect().map(x => x.getString(0) -> x.getDouble(1)).toMap
    assert(r("z") < 1e-9 && r("y") < 1e-9, s"unreachable must decay: $r")
    assert(r("a") + r("b") > 0.99, "all mass stays in the seed component")
  }

  // --- DSIR ------------------------------------------------------------

  private def docs(rows: (Long, String, String)*): DataFrame =
    rows.toSeq.toDF("doc_id", "text", "lang")

  test("dsirWeights: target-like documents score higher than off-target") {
    val corpus = docs(
      (1L, "alpha beta gamma alpha beta", "en"),
      (2L, "alpha beta beta gamma alpha", "en"),
      (3L, "zulu yankee xray zulu yankee", "de"),
      (4L, "alpha beta gamma beta alpha", "de"))
    val target = corpus.filter(col("lang") === "en")
    val w = Importance.dsirWeights(corpus, target, "doc_id", "text",
      buckets = 32)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    // doc 4 shares the target vocabulary; doc 3 does not
    assert(w(4L) > w(3L), s"target-vocab doc must outweigh off-target: $w")
    assert(w(1L) > w(3L))
  }

  test("dsirWeights: weight is per-token-mass scaled (n_tokens exact)") {
    val corpus = docs((1L, "a b c", "en"), (2L, "", "en"))
    val out = Importance.dsirWeights(corpus, corpus, "doc_id", "text",
      buckets = 16).collect()
    // empty doc has no tokens → no row (explode drops it), like the oracle
    assert(out.length == 1)
    assert(out.head.getLong(1) == 3L)
  }

  test("ratioTable: exactly B rows, all ratios positive, smoothing total-preserving") {
    val corpus = docs((1L, "a b c d e f", "en"), (2L, "g h i j", "de"))
    val rt = Importance.ratioTable(
      corpus.filter(col("lang") === "en"), corpus, "text", buckets = 8)
      .collect()
    assert(rt.length == 8)
    assert(rt.forall(_.getDouble(1) > 0.0))
  }

  test("dsirSelect: keeps the requested fraction, highest-weight first") {
    val corpus = docs(
      (1L, "alpha beta alpha beta", "en"),
      (2L, "alpha alpha beta beta", "en"),
      (3L, "zulu yankee xray whiskey", "de"),
      (4L, "foxtrot golf hotel india", "de"))
    val target = corpus.filter(col("lang") === "en")
    val kept = Importance.dsirSelect(corpus, target, "doc_id", "text",
      keepFraction = 0.5, buckets = 32)
      .select("doc_id").as[Long].collect().toSet
    assert(kept.size == 2)
    assert(kept == Set(1L, 2L), s"must keep the target-like docs: $kept")
  }

  test("mergeBucketCounts: incremental merge equals whole-corpus recount") {
    val part1 = docs((1L, "alpha beta gamma", "en"), (2L, "delta", "en"))
    val part2 = docs((3L, "alpha epsilon zeta eta", "en"))
    val whole = part1.union(part2)
    val merged = Importance.mergeBucketCounts(
      Importance.bucketCounts(part1, "text", 16),
      Importance.bucketCounts(part2, "text", 16))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val full = Importance.bucketCounts(whole, "text", 16)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(merged == full)
    assert(merged.size == 16)
  }

  test("featureBucket: stable, non-negative, bounded") {
    val b = spark.range(1).select(
      Importance.featureBucket(lit("alpha"), 64).as("b1"),
      Importance.featureBucket(lit("alpha"), 64).as("b2"),
      Importance.featureBucket(lit("beta"), 64).as("b3"))
      .head()
    assert(b.getLong(0) == b.getLong(1))
    assert(b.getLong(0) >= 0 && b.getLong(0) < 64)
  }

  test("triangles: K4 has exactly 4; K3 plus pendant has 1") {
    val k4 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
      .toDF("src", "dst")
    assert(Graph.triangles(k4, "src", "dst").count() == 4)
    val tri = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L)).toDF("src", "dst")
    val t = Graph.triangles(tri, "src", "dst").collect()
    assert(t.length == 1 &&
      (t(0).getLong(0), t(0).getLong(1), t(0).getLong(2)) == ((1L, 2L, 3L)))
  }

  test("triangles: degree-ordered enumeration matches brute force on a random graph") {
    // deterministic LCG edge soup: duplicates, loops and both directions
    // included on purpose — canonicalization must absorb them all
    var x = 12345L
    def nxt(): Long = { x = (x * 6364136223846793005L + 1442695040888963407L); math.abs(x) }
    val raw = Seq.fill(400)((nxt() % 30, nxt() % 30))
    val e = raw.toDF("src", "dst")
    val got = Graph.triangles(e, "src", "dst")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // brute force over the canonical simple graph
    val canon = raw.map { case (a, b) => (math.min(a, b), math.max(a, b)) }
      .filter { case (a, b) => a != b }.toSet
    val nodes = canon.flatMap { case (a, b) => Seq(a, b) }.toSeq.sorted
    val brute = (for {
      i <- nodes; j <- nodes if j > i; k <- nodes if k > j
      if canon((i, j)) && canon((j, k)) && canon((i, k))
    } yield (i, j, k)).toSet
    assert(got == brute, s"got ${got.size} vs brute ${brute.size}")
  }

  test("edgeCommonNeighbors: cn and jaccard on a hand graph, cn=0 edges kept") {
    // square 1-2-3-4-1 with one diagonal 1-3: edge (1,3) closes two
    // triangles; square edges close one each; pendant edge (4,5) zero
    val e = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L), (1L, 3L), (4L, 5L))
      .toDF("src", "dst")
    val r = Graph.edgeCommonNeighbors(e, "src", "dst")
      .collect().map(x => (x.getLong(0), x.getLong(1)) ->
        (x.getLong(4), x.getDouble(5))).toMap
    assert(r((1L, 3L))._1 == 2L)
    assert(r((1L, 2L))._1 == 1L)
    assert(r((4L, 5L))._1 == 0L)
    // deg(1)=3, deg(3)=3, cn=2 -> jaccard 2/(3+3-2)=0.5
    assert(r((1L, 3L))._2 == 0.5)
    assert(r((4L, 5L))._2 == 0.0)
  }

  test("ksTwoSample + mannWhitney: brute-force parity on random tied data; kappa hand case") {
    import spark.implicits._
    val rnd = new scala.util.Random(99)
    // small integer values force heavy ties — the exactness stressor
    val rows = (1 to 200).map { i =>
      (rnd.nextInt(12).toLong, if (rnd.nextBoolean()) "a" else "b")
    }
    val df = rows.toDF("v", "g")
    val av = rows.filter(_._2 == "a").map(_._1)
    val bv = rows.filter(_._2 == "b").map(_._1)
    // brute KS: max over values of |Fa - Fb|, as the exact rational numerator
    val dNumWant = (0L to 12L).map { x =>
      val ca = av.count(_ <= x).toLong; val cb = bv.count(_ <= x).toLong
      math.abs(ca * bv.size - cb * av.size)
    }.max
    val ks = Importance.ksTwoSample(df, "v", "g", "a", "b").head()
    assert(ks.getLong(0) === av.size.toLong && ks.getLong(1) === bv.size.toLong)
    assert(ks.getLong(2) === dNumWant)
    assert(ks.getDouble(3) === dNumWant.toDouble / (av.size.toDouble * bv.size.toDouble))
    // brute U: pairwise wins + half-ties, doubled to stay integer
    val u2Want = (for (x <- av; y <- bv)
      yield (if (x > y) 2L else if (x == y) 1L else 0L)).sum
    val mw = Importance.mannWhitney(df, "v", "g", "a", "b").head()
    assert(mw.getLong(2) === u2Want, "doubled U mismatch vs brute force")
    assert(mw.getDouble(3) === u2Want / 2.0)
    // kappa hand case: 2x2 confusion [[20 agree aa, 5 ab], [10 ba, 15 bb]]
    val lab = (Seq.fill(20)(("x", "x")) ++ Seq.fill(5)(("x", "y")) ++
      Seq.fill(10)(("y", "x")) ++ Seq.fill(15)(("y", "y"))).toDF("ra", "rb")
    val k = Importance.cohenKappa(lab, "ra", "rb").head()
    val n = 50L; val agree = 35L
    val peNum = 25L * 30L + 25L * 20L // ma(x)*mb(x) + ma(y)*mb(y)
    assert(k.getLong(0) === n && k.getLong(1) === agree && k.getLong(2) === peNum)
    assert(k.getDouble(3) === (agree * n - peNum).toDouble / (n * n - peNum).toDouble)
  }

  test("kendallTauB + spearmanRho: brute-force parity on random tied data") {
    import spark.implicits._
    val rnd = new scala.util.Random(37)
    // correlated-with-noise integer pairs, heavy ties in both columns
    val rows = (1 to 150).map { _ =>
      val x = rnd.nextInt(10).toLong
      (x, x / 2 + rnd.nextInt(4).toLong)
    }
    val df = rows.toDF("x", "y")
    val xs = rows.map(_._1); val ys = rows.map(_._2); val n = rows.size
    var bc = 0L; var bd = 0L
    for (i <- 0 until n; j <- (i + 1) until n) {
      val s = (xs(i) - xs(j)) * (ys(i) - ys(j))
      if (s > 0) bc += 1 else if (s < 0) bd += 1
    }
    def tiePairs(v: Seq[Long]): Long =
      v.groupBy(identity).values.map(g => g.size.toLong * (g.size - 1) / 2).sum
    val n0 = n.toLong * (n - 1) / 2
    val kt = graft.operators.Importance.kendallTauB(df, "x", "y").head()
    assert(kt.getLong(0) === n.toLong)
    assert(kt.getLong(1) === bc && kt.getLong(2) === bd)
    assert(kt.getDouble(3) === (bc - bd).toDouble /
      (math.sqrt((n0 - tiePairs(xs)).toDouble) * math.sqrt((n0 - tiePairs(ys)).toDouble)))
    // Spearman: doubled midranks by hand
    def rank2(v: Seq[Long]): Seq[Long] = {
      val cnt = v.groupBy(identity).view.mapValues(_.size.toLong).toMap
      val sorted = cnt.keys.toSeq.sorted
      val m = scala.collection.mutable.Map.empty[Long, Long]
      var cum = 0L
      for (value <- sorted) { m(value) = 2 * cum + cnt(value) + 1; cum += cnt(value) }
      v.map(m)
    }
    val rx = rank2(xs); val ry = rank2(ys)
    val (sx, sy) = (rx.sum, ry.sum)
    val sxx = rx.map(a => a * a).sum; val syy = ry.map(a => a * a).sum
    val sxy = rx.zip(ry).map { case (a, b) => a * b }.sum
    val num = n * sxy - sx * sy
    val dx = n * sxx - sx * sx; val dy = n * syy - sy * sy
    val sr = graft.operators.Importance.spearmanRho(df, "x", "y").head()
    assert(sr.getLong(0) === n.toLong)
    assert(sr.getDouble(1) === num.toDouble && sr.getDouble(2) === dx.toDouble &&
      sr.getDouble(3) === dy.toDouble)
    assert(sr.getDouble(4) === num.toDouble / (math.sqrt(dx.toDouble) * math.sqrt(dy.toDouble)))
    // the cells guard fails loud instead of going quadratic silently
    val ex = intercept[IllegalArgumentException] {
      graft.operators.Importance.kendallTauB(df, "x", "y", maxCells = 3)
    }
    assert(ex.getMessage.contains("quantize"))
  }

  test("rrfFuse: hand-fused ranks, missing-doc contribution, tie-break") {
    import spark.implicits._
    val ra = Seq((1L, 10L), (2L, 20L), (3L, 30L)).toDF("rnk", "id")
      .select(col("id"), col("rnk"))
    val rb = Seq((1L, 20L), (2L, 40L)).toDF("rnk", "id")
      .select(col("id"), col("rnk"))
    val got = graft.operators.Similarity
      .rrfFuse(Seq(ra.select(col("id"), col("rnk")),
        rb.select(col("id"), col("rnk"))), "id", k0 = 60, topK = 4)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    // doc 20: 1/62 + 1/61; doc 10: 1/61; doc 40: 1/62; doc 30: 1/63
    assert(got(0) === ((20L, 1.0 / 62 + 1.0 / 61)))
    assert(got(1) === ((10L, 1.0 / 61)))
    assert(got(2) === ((40L, 1.0 / 62)))
    assert(got(3) === ((30L, 1.0 / 63)))
  }

  test("hopDistance: min hop counts on a path + branch graph; maxHops truncates; early exit") {
    // 1→2→3→4→5 with a shortcut 1→4: dist(4) must be 1, not 3
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (1L, 4L))
      .toDF("src", "dst")
    val seeds = Seq(1L).toDF("pk")
    def run(k: Int, cp: Boolean = false) =
      Graph.hopDistance(edges, "src", "dst", seeds, "pk", k, checkpoint = cp)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(run(10) === Map(1L -> 0L, 2L -> 1L, 4L -> 1L, 3L -> 2L, 5L -> 2L))
    // truncation: within 1 hop only the direct neighbors appear
    assert(run(1) === Map(1L -> 0L, 2L -> 1L, 4L -> 1L))
    assert(run(0) === Map(1L -> 0L))
    // checkpointed run returns the same frame (lineage cuts change nothing)
    val cp = run(10, cp = true)
    assert(cp === run(10))
    // disconnected seed: nothing reachable, early exit leaves the seed row
    val far = Graph.hopDistance(edges, "src", "dst", Seq(99L).toDF("pk"), "pk", 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(far === Map(99L -> 0L))
    // multi-source: min over seeds (5 is 1 hop from seed 4, 2 hops from seed 1... min wins)
    val multi = Graph.hopDistance(edges, "src", "dst", Seq(1L, 4L).toDF("pk"), "pk", 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(multi(5L) === 1L && multi(4L) === 0L && multi(2L) === 1L)
  }
}
