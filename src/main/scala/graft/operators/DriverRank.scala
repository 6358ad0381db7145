package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Driver-side EXACT PageRank kernels over a bounded edge list (routing:
  * [[DriverGate]]).
  *
  * EXACTNESS CONTRACT: every IEEE operation below replicates the
  * distributed exact plan bit for bit:
  *  - contrib = (rank * w.toDouble) / ow.toDouble — same association
  *    as `col("rank") * col("w").cast("double") / col("ow")
  *    .cast("double")`;
  *  - incoming contributions fold left-to-right in (src, contrib)
  *    order from 0.0 — the `aggregate(array_sort(collect_list(
  *    struct(src, contrib))), lit(0.0), _ + _)` order, with string
  *    src compared as unsigned UTF-8 bytes (UTF8String's binary
  *    order, NOT java.lang.String's UTF-16 order);
  *  - next = teleport + damping * inc (personalized:
  *    (1-d) * tele + d * inc) with scalars computed by the same Scala
  *    expressions the distributed plan embeds as literals.
  * The DuckDB oracle re-checks g1/g2/g3 hashes, so a divergence in any
  * ulp fails the gate loudly.
  */
private[operators] object DriverRank {

  /** Unsigned UTF-8 byte comparison — UTF8String.binaryCompare, the
    * order Spark's array_sort uses for StringType struct fields. */
  private[operators] val utf8Order: Ordering[String] = (a: String, b: String) => {
    val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val n = math.min(x.length, y.length)
    var i = 0
    var r = 0
    while (r == 0 && i < n) {
      r = (x(i) & 0xff) - (y(i) & 0xff)
      i += 1
    }
    if (r != 0) r else x.length - y.length
  }

  /** A bounded driver-resident graph: distinct node values in Spark
    * sort order, edges as index triples, and a lift from a per-index
    * rank vector back to a (node, rank) frame in the coerced src∪dst
    * type. */
  private[operators] final case class Graphlet(
      spark: SparkSession, n: Int,
      srcIdx: Array[Int], dstIdx: Array[Int], w: Array[Long],
      /** index of a SEED value (cast the same way as the edges), or -1
        * when the value labels no graph node. */
      seedIndex: Any => Int,
      toFrame: Array[Double] => DataFrame)

  /** True when two id columns are in the same driver-supported family
    * (both strings, or both integral) — a cross-family pair would make
    * the distributed join COERCE (e.g. string node vs int seed) in ways
    * the driver kernel does not replicate, so such calls route
    * distributed. */
  private[operators] def sameIdFamily(a: DataType, b: DataType): Boolean =
    (a == StringType && b == StringType) ||
      (DriverGate.integral(a) && DriverGate.integral(b))

  /** The edge list as a [[Graphlet]] when an `exact` call passes the
    * [[DriverGate]] rank gate, else None to route distributed. An empty
    * edge list also routes distributed, which keeps its empty-input
    * shape. */
  private[operators] def collect(
      edges: DataFrame, srcCol: String, dstCol: String, weightCol: String,
      exact: Boolean): Option[Graphlet] = {
    if (!exact) return None
    val spark = edges.sparkSession
    val Seq(sT, dT) = edges.select(col(srcCol), col(dstCol)).schema.map(_.dataType)
    val strings = sT == StringType && dT == StringType
    val ints = DriverGate.integral(sT) && DriverGate.integral(dT)
    if (!strings && !ints) return None
    val idCast = if (ints) LongType else StringType
    val probe = DriverGate.collect(
        edges.select(col(srcCol).cast(idCast), col(dstCol).cast(idCast),
          col(weightCol).cast("long")), DriverGate.RankEdges) match {
      case Some(rows) if rows.nonEmpty => rows
      case _ => return None
    }
    val m = probe.length
    val srcIdx = new Array[Int](m)
    val dstIdx = new Array[Int](m)
    val w = Array.tabulate(m)(i => probe(i).getLong(2))
    var i = 0
    if (strings) {
      val set = new java.util.TreeSet[String](utf8Order)
      probe.foreach { r => set.add(r.getString(0)); set.add(r.getString(1)) }
      val ids = set.toArray(new Array[String](0))
      val index = new java.util.HashMap[String, Integer](ids.length * 2)
      ids.zipWithIndex.foreach { case (s, j) => index.put(s, j) }
      while (i < m) {
        srcIdx(i) = index.get(probe(i).getString(0))
        dstIdx(i) = index.get(probe(i).getString(1))
        i += 1
      }
      val toFrame = (ranks: Array[Double]) => {
        import spark.implicits._
        DriverGate.datasetOf(spark, ids.toSeq.zip(ranks.toSeq)).toDF("node", "rank")
      }
      val seedIndex = (v: Any) => v match {
        case s: String => Option(index.get(s)).map(_.intValue).getOrElse(-1)
        case _ => -1
      }
      Some(Graphlet(spark, ids.length, srcIdx, dstIdx, w, seedIndex, toFrame))
    } else {
      val pairs = Array.tabulate(m)(j => (probe(j).getLong(0), probe(j).getLong(1)))
      val ids = DriverUnionFind.sortedIds(pairs)
      while (i < m) {
        srcIdx(i) = DriverUnionFind.indexOf(ids, pairs(i)._1)
        dstIdx(i) = DriverUnionFind.indexOf(ids, pairs(i)._2)
        i += 1
      }
      val nodeType = DriverGate.nodeType(edges, srcCol, dstCol)
      val toFrame = (ranks: Array[Double]) => {
        import spark.implicits._
        DriverGate.datasetOf(spark, ids.toSeq.zip(ranks.toSeq))
          .toDF("node", "rank")
          .select(col("node").cast(nodeType).as("node"), col("rank"))
      }
      def idxOf(l: Long): Int = {
        val j = DriverUnionFind.indexOf(ids, l)
        if (j >= 0) j else -1
      }
      val seedIndex = (v: Any) => v match {
        case x: Byte => idxOf(x.toLong)
        case x: Short => idxOf(x.toLong)
        case x: Int => idxOf(x.toLong)
        case x: Long => idxOf(x)
        case _ => -1
      }
      Some(Graphlet(spark, ids.length, srcIdx, dstIdx, w, seedIndex, toFrame))
    }
  }

  /** Exact long out-weight per node index (absent sources never divide —
    * their nodes only ever RECEIVE). */
  private def outWeights(g: Graphlet): Array[Long] = {
    val ow = new Array[Long](g.n)
    var i = 0
    while (i < g.srcIdx.length) { ow(g.srcIdx(i)) += g.w(i); i += 1 }
    ow
  }

  /** Edge positions grouped by destination index. */
  private def incomingEdges(g: Graphlet): Array[Array[Int]] = {
    val cnt = new Array[Int](g.n)
    g.dstIdx.foreach(d => cnt(d) += 1)
    val out = Array.tabulate(g.n)(d => new Array[Int](cnt(d)))
    val pos = new Array[Int](g.n)
    var i = 0
    while (i < g.dstIdx.length) {
      val d = g.dstIdx(i)
      out(d)(pos(d)) = i
      pos(d) += 1
      i += 1
    }
    out
  }

  /** One exact step: next(v) = base(v) + damping * inc(v), inc folding
    * (src, contrib)-sorted contributions from 0.0 — the distributed
    * exact plan's IEEE op order. `base` closes over the teleport shape
    * (uniform scalar vs personalized per-node). */
  private def step(
      g: Graphlet, incoming: Array[Array[Int]], ow: Array[Long],
      ranks: Array[Double], damping: Double,
      base: Int => Double): Array[Double] = {
    val next = new Array[Double](g.n)
    var v = 0
    while (v < g.n) {
      val es = incoming(v)
      val contribs = new Array[(Int, Double)](es.length)
      var k = 0
      while (k < es.length) {
        val e = es(k)
        val s = g.srcIdx(e)
        contribs(k) = (s, ranks(s) * g.w(e).toDouble / ow(s).toDouble)
        k += 1
      }
      // struct(src, contrib) ascending: src index order IS Spark's src
      // value order; ties (duplicate (src,dst) edges) break on contrib
      java.util.Arrays.sort(contribs, (a: (Int, Double), b: (Int, Double)) => {
        val c = Integer.compare(a._1, b._1)
        if (c != 0) c else java.lang.Double.compare(a._2, b._2)
      })
      var inc = 0.0
      k = 0
      while (k < contribs.length) { inc = inc + contribs(k)._2; k += 1 }
      next(v) = base(v) + damping * inc
      v += 1
    }
    next
  }

  /** [[Graph.pageRank]]'s exact fixed-iteration loop. */
  private[operators] def fixed(
      g: Graphlet, iterations: Int, damping: Double): Array[Double] = {
    val ow = outWeights(g)
    val incoming = incomingEdges(g)
    val teleport = (1.0 - damping) / g.n.toDouble
    var ranks = Array.fill(g.n)(1.0 / g.n.toDouble)
    var i = 0
    while (i < iterations) {
      ranks = step(g, incoming, ow, ranks, damping, _ => teleport)
      i += 1
    }
    ranks
  }

  /** [[Graph.personalizedPageRank]]'s exact loop: teleport mass 1/|S|
    * on each graph node among the distinct `seeds` (seeds absent from the
    * graph still count in |S|, as in the distributed plan), rank₀ = tele. */
  private[operators] def personalized(
      g: Graphlet, seeds: Array[Row], iterations: Int,
      damping: Double): Array[Double] = {
    require(seeds.nonEmpty, "personalizedPageRank: seeds must be non-empty")
    val tele = new Array[Double](g.n)
    seeds.foreach { r =>
      val j = g.seedIndex(r.get(0))
      if (j >= 0) tele(j) = 1.0 / seeds.length.toDouble
    }
    val ow = outWeights(g)
    val incoming = incomingEdges(g)
    var ranks = tele.clone()
    var i = 0
    while (i < iterations) {
      ranks = step(g, incoming, ow, ranks, damping,
        v => (1.0 - damping) * tele(v))
      i += 1
    }
    ranks
  }

  /** [[Graph.pageRankConverged]]'s exact block loop: advance in blocks
    * of `blockIters`, stop when max |Δrank| < tol (max is
    * order-independent, so a plain scan matches the distributed probe).
    * Returns (ranks, iterationsRun). */
  private[operators] def converged(
      g: Graphlet, tol: Double, maxIterations: Int, damping: Double,
      blockIters: Int): (Array[Double], Int) = {
    val ow = outWeights(g)
    val incoming = incomingEdges(g)
    val teleport = (1.0 - damping) / g.n.toDouble
    var ranks = Array.fill(g.n)(1.0 / g.n.toDouble)
    var done = 0
    var converged = false
    while (!converged && done < maxIterations) {
      var cur = ranks
      var i = 0
      while (i < blockIters) {
        cur = step(g, incoming, ow, cur, damping, _ => teleport)
        i += 1
      }
      var delta = 0.0
      var v = 0
      while (v < g.n) {
        val d = math.abs(cur(v) - ranks(v))
        if (d > delta) delta = d
        v += 1
      }
      ranks = cur
      done += blockIters
      converged = delta < tol
    }
    (ranks, done)
  }
}
