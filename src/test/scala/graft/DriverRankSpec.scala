package graft

import graft.operators.Graph
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** BOTH PageRank paths pinned against each other BIT-FOR-BIT: the
  * driver fixed point ([[graft.operators.DriverRank]]) must reproduce
  * the distributed exact plan's every IEEE operation, because the
  * DuckDB oracle hashes g1/g2/g3 doubles verbatim. The public calls take
  * the driver path on these small graphs; the distributed loops are
  * called by name (`Graph.*Distributed`); equality is on raw double
  * BITS, not a tolerance. */
class DriverRankSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark
  import spark.implicits._

  private def bits(df: DataFrame): Map[String, Long] =
    df.collect()
      .map(r => String.valueOf(r.get(0)) ->
        java.lang.Double.doubleToRawLongBits(r.getDouble(1)))
      .toMap

  // a lopsided weighted digraph with a dangling node (d), a self-loop,
  // a duplicate (src,dst) pair with different weights, and a node name
  // whose UTF-16 order DIFFERS from its UTF-8 byte order relative to a
  // supplementary character (� sorts AFTER 𐀀 in UTF-16
  // but BEFORE it in UTF-8 bytes — the order Spark's array_sort uses)
  private def stringEdges: DataFrame = Seq(
    ("a", "b", 3L), ("a", "c", 1L), ("b", "c", 2L), ("c", "a", 5L),
    ("c", "c", 1L), ("c", "d", 2L), ("b", "c", 4L),
    ("�", "b", 1L), ("𐀀", "b", 2L), ("a", "�", 1L)
  ).toDF("src", "dst", "w")

  // "\uE000" sorts AFTER "𐀀" in UTF-16 but BEFORE it in UTF-8 bytes,
  // and both send to t and u next to "a": t and u each fold three
  // contributions, and on these weights the UTF-16 fold order changes
  // ranks in the last ulp (the string graph above rounds alike in both
  // orders)
  private def ulpEdges: DataFrame = Seq(
    ("a", "t", 1L), ("a", "u", 1L), ("\uE000", "t", 1L), ("\uE000", "u", 1L),
    ("𐀀", "t", 2L), ("𐀀", "u", 5L), ("t", "a", 1L), ("u", "\uE000", 1L),
    ("t", "𐀀", 2L), ("u", "a", 1L)
  ).toDF("src", "dst", "w")

  private def intEdges: DataFrame = Seq(
    (1, 2, 3L), (1, 3, 1L), (2, 3, 2L), (3, 1, 5L), (3, 3, 1L),
    (3, 4, 2L), (2, 3, 4L), (7, 2, 1L), (9, 2, 2L), (1, 7, 1L)
  ).toDF("src", "dst", "w")

  test("pageRank exact: driver path == distributed path, bitwise (string + int ids)") {
    for (e <- Seq(stringEdges, ulpEdges, intEdges)) {
      val drv = Graph.pageRank(e, "src", "dst", "w", iterations = 6, exact = true)
      val dist = Graph.pageRankDistributed(e, "src", "dst", "w", iterations = 6,
        damping = 0.85, exact = true, checkpoint = false)
      assert(bits(drv) === bits(dist))
      // both paths emit the same column names and types (the coerced
      // src∪dst id type for integral ids)
      assert(drv.schema.map(f => (f.name, f.dataType)) ===
        dist.schema.map(f => (f.name, f.dataType)))
    }
  }

  test("personalizedPageRank exact: driver == distributed, bitwise; absent seeds still dilute") {
    // seed set includes a node NOT in the graph ("zz"): the distributed
    // nSeeds counts it (diluting the teleport mass), so the driver must too
    val seeds = Seq("a", "c", "zz").toDF("node")
    val drv = Graph.personalizedPageRank(
      stringEdges, "src", "dst", "w", seeds, "node", iterations = 5, exact = true)
    val dist = Graph.personalizedPageRankDistributed(
      stringEdges, "src", "dst", "w", seeds, "node", iterations = 5,
      damping = 0.85, exact = true)
    assert(bits(drv) === bits(dist))
  }

  test("pageRankConverged exact: driver == distributed, bitwise, same step count") {
    val (drv, di) = Graph.pageRankConverged(
      intEdges, "src", "dst", "w", tol = 1e-7, maxIterations = 40,
      blockIters = 5, exact = true)
    val (dist, ei) = Graph.pageRankConvergedDistributed(
      intEdges, "src", "dst", "w", tol = 1e-7, maxIterations = 40,
      damping = 0.85, blockIters = 5, exact = true)
    assert(di === ei)
    assert(bits(drv) === bits(dist))
  }

  test("exact=false never routes to the driver (distributed plan shape kept)") {
    val p = Graph.pageRank(stringEdges, "src", "dst", "w",
        iterations = 2, exact = false)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(p.contains("Exchange") || p.contains("AdaptiveSparkPlan"), p)
  }

  test("null endpoints route distributed (and both paths agree there is no driver shortcut)") {
    val e = Seq((Some("a"), Some("b"), 1L), (None, Some("b"), 2L))
      .toDF("src", "dst", "w")
    // the null src routes the exact run distributed; it must not throw
    // and must equal the distributed loop called by name
    val a = bits(Graph.pageRank(e, "src", "dst", "w", iterations = 3, exact = true))
    val b = bits(Graph.pageRankDistributed(e, "src", "dst", "w", iterations = 3,
      damping = 0.85, exact = true, checkpoint = false))
    assert(a === b)
  }
}
