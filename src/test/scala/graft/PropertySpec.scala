package graft

import graft.functions.{CanonicalJson, HexUtil, PqUtil}
import graft.operators.{Dedup, Graph, Similarity}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

/** Property-based coverage for the scalar kernel pack (the SURVEY §5 test
  * plan's ScalaCheck leg): round-trips, algebraic identities, and parity
  * with JDK reference implementations over generated inputs — the cases a
  * fixture suite can't enumerate. */
class PropertySpec extends AnyFunSuite {
  import PropertySpec.RandomGraph

  private def check(label: String, p: Prop): Unit = {
    val r = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(300), p)
    assert(r.passed, s"$label: ${r.status}")
  }

  private def utf8(s: String) = UTF8String.fromString(s)

  test("SafeLong: hex and decimal renderings of any non-negative long round-trip") {
    check("hex round-trip", Prop.forAll(Gen.chooseNum(0L, Long.MaxValue)) { n =>
      HexUtil.safeLong(utf8("0x" + java.lang.Long.toHexString(n)), -1L) == n &&
      HexUtil.safeLong(utf8(n.toString), -1L) == n
    })
    // UInt64 overflow clamps to Long.MaxValue (FAR_FUTURE sentinel policy)
    check("overflow clamp", Prop.forAll(Gen.chooseNum(0L, Long.MaxValue)) { n =>
      val big = java.math.BigInteger.valueOf(Long.MaxValue)
        .add(java.math.BigInteger.valueOf(n max 1L))
      HexUtil.safeLong(utf8(big.toString), -1L) == Long.MaxValue
    })
  }

  test("HexPopcount: parity with java.lang.Long.bitCount on any long") {
    check("popcount", Prop.forAll(Gen.chooseNum(Long.MinValue, Long.MaxValue)) { n =>
      HexUtil.popcountHex(utf8("0x" + java.lang.Long.toHexString(n))) ==
        java.lang.Long.bitCount(n)
    })
  }

  test("HexByteLength: len//2 of any hex rendering") {
    check("byte length", Prop.forAll(Gen.chooseNum(0L, Long.MaxValue)) { n =>
      val h = java.lang.Long.toHexString(n)
      HexUtil.hexByteLen(utf8(h)) == h.length / 2
    })
  }

  test("morton2: deinterleave inverts, key is non-negative, grows per coordinate") {
    val coord = Gen.chooseNum(0L, 0x7FFFFFFFL)
    def deinterleave(z: Long): (Long, Long) = {
      def unspread(x0: Long): Long = {
        var x = x0 & 0x5555555555555555L
        x = (x | (x >> 1)) & 0x3333333333333333L
        x = (x | (x >> 2)) & 0x0F0F0F0F0F0F0F0FL
        x = (x | (x >> 4)) & 0x00FF00FF00FF00FFL
        x = (x | (x >> 8)) & 0x0000FFFF0000FFFFL
        x = (x | (x >> 16)) & 0x00000000FFFFFFFFL
        x
      }
      (unspread(z), unspread(z >> 1))
    }
    check("invertible", Prop.forAll(coord, coord) { (a, b) =>
      val z = HexUtil.morton2(a, b)
      z >= 0 && deinterleave(z) == ((a, b))
    })
    check("monotone", Prop.forAll(coord, coord) { (a, b) =>
      (a == 0x7FFFFFFFL || HexUtil.morton2(a + 1, b) > HexUtil.morton2(a, b)) &&
      (b == 0x7FFFFFFFL || HexUtil.morton2(a, b + 1) > HexUtil.morton2(a, b))
    })
  }

  test("matVec: identity fixes vectors; rotation preserves norms to fp tolerance") {
    val dim = 16
    val vecGen = Gen.listOfN(dim, Gen.chooseNum(-10.0f, 10.0f)).map(_.toArray)
    val id = Array.tabulate(dim * dim)(i => if (i / dim == i % dim) 1.0f else 0.0f)
    check("identity", Prop.forAll(vecGen) { v =>
      PqUtil.matVecFloats(v, id).sameElements(v)
    })
    val rot = graft.operators.Similarity.randomRotation(dim, seed = 11L)
    def norm(v: Array[Float]) = math.sqrt(v.map(x => x.toDouble * x).sum)
    check("isometry", Prop.forAll(vecGen) { v =>
      math.abs(norm(PqUtil.matVecFloats(v, rot)) - norm(v)) < 1e-2
    })
  }

  test("CanonicalJsonHash16: invariant under key order, 16 lowercase hex chars") {
    val keyGen = Gen.nonEmptyListOf(Gen.alphaNumChar).map(_.mkString.take(8))
    val entryGen = Gen.zip(keyGen, Gen.chooseNum(-1000000L, 1000000L))
    val objGen = Gen.nonEmptyListOf(entryGen).map(_.toMap.toList)
    check("order invariance", Prop.forAll(objGen) { entries =>
      def render(es: List[(String, Long)]) =
        es.map { case (k, v) => s""""$k": $v""" }.mkString("{", ", ", "}")
      val h1 = CanonicalJson.payloadHash16(render(entries))
      val h2 = CanonicalJson.payloadHash16(render(entries.reverse))
      h1 == h2 && h1.length == 16 && h1.forall(c => c.isDigit || ('a' to 'f').contains(c))
    })
  }

  private val graphGen: Gen[RandomGraph] = for {
    kind <- Gen.oneOf("int", "long", "string")
    parts <- Gen.chooseNum(1, 3)
    partEdges <- Gen.sequence[List[List[(Int, Int, Long)]], List[(Int, Int, Long)]](
        (0 until parts).map { p =>
      // part p owns node indices [5p, 5p + 5): no edge crosses parts;
      // up to 8 edges over 5 nodes gives nodes with 3+ in-edges, where
      // the order of the exact fold can change the last ulp
      val node = Gen.chooseNum(5 * p, 5 * p + 4)
      Gen.listOfN(8, Gen.zip(node, node, Gen.chooseNum(1L, 5L)))
        .flatMap(es => Gen.chooseNum(1, 8).map(k => es.take(k)))
    })
    base = partEdges.flatten.map { case (s, d, w) => (Option(s), Option(d), w) }
    dups <- Gen.someOf(base).map(_.map { case (s, d, w) => (s, d, w + 1) })
    nullAt <- Gen.frequency(3 -> Gen.const(-1), 1 -> Gen.chooseNum(0, base.length - 1))
    nullSrc <- Gen.oneOf(true, false)
    edges = (base ++ dups).zipWithIndex.map { case ((s, d, w), i) =>
      if (i != nullAt) (s, d, w) else if (nullSrc) (None, d, w) else (s, None, w)
    }
    seedIds <- Gen.nonEmptyListOf(Gen.oneOf(base.flatMap(e => e._1.toList ++ e._2.toList)))
    absent <- Gen.oneOf(Seq.empty[Option[Int]], Seq(Some(97)))
    nullSeed <- Gen.frequency(5 -> Gen.const(Seq.empty[Option[Int]]), 1 -> Gen.const(Seq(None)))
    angles <- Gen.listOfN(15, Gen.chooseNum(0, 359))
    minPts <- Gen.chooseNum(2, 4)
  } yield RandomGraph(kind, edges, seedIds.take(3).map(Option(_)) ++ absent ++ nullSeed,
    angles.toVector, minPts)

  /** DBSCAN's ε as a cosine: about 23° between unit vectors. */
  private val DbscanTau = 0.92

  test("graph driver twins equal their distributed loops on random small graphs") {
    val spark = SparkTestSession.spark
    def bits(df: DataFrame): Map[Any, Long] =
      df.collect().map(r => r.get(0) ->
        java.lang.Double.doubleToRawLongBits(r.getDouble(1))).toMap
    def labels(df: DataFrame): Map[Any, Any] =
      df.collect().map(r => r.get(0) -> r.get(1)).toMap
    def shape(df: DataFrame) = df.schema.map(f => (f.name, f.dataType))
    val started = System.nanoTime()
    val r = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(8),
      Prop.forAllNoShrink(graphGen) { g =>
        val (e, seeds) = g.frames(spark)
        val pr = Graph.pageRank(e, "src", "dst", "w", iterations = 3, exact = true)
        val prRef = Graph.pageRankDistributed(e, "src", "dst", "w",
          iterations = 3, damping = 0.85, exact = true, checkpoint = false)
        val ppr = Graph.personalizedPageRank(e, "src", "dst", "w", seeds, "node",
          iterations = 3, exact = true)
        val pprRef = Graph.personalizedPageRankDistributed(e, "src", "dst", "w",
          seeds, "node", iterations = 3, damping = 0.85, exact = true)
        val (cv, cvSteps) = Graph.pageRankConverged(e, "src", "dst", "w",
          tol = 1e-3, maxIterations = 6, blockIters = 2, exact = true)
        val (cvRef, cvRefSteps) = Graph.pageRankConvergedDistributed(e, "src", "dst",
          "w", tol = 1e-3, maxIterations = 6, damping = 0.85, blockIters = 2,
          exact = true)
        val cc = Graph.connectedComponents(e, "src", "dst")
        val ccRef = Graph.connectedComponentsDistributed(e, "src", "dst", maxRounds = 50)
        val corpus = g.corpus(spark)
        val db = Similarity.dbscanLabels(corpus, "id", "vec", tau = DbscanTau,
          minPts = g.minPts, planes = 1, seed = 7L, bands = 4)
        val dbPairs = Dedup.embeddingNearDupPairs(corpus, "id", "vec", planes = 1,
          seed = 7L, threshold = DbscanTau, bands = 4)
        val dbRef = Similarity.dbscanDistributed(corpus, "id", dbPairs, g.minPts)
        val checks = Seq(
          "pageRank" -> (bits(pr) == bits(prRef) && shape(pr) == shape(prRef)),
          "personalizedPageRank" -> (bits(ppr) == bits(pprRef)),
          "pageRankConverged" -> (bits(cv) == bits(cvRef) && cvSteps == cvRefSteps),
          "connectedComponents" -> (labels(cc) == labels(ccRef) && shape(cc) == shape(ccRef)),
          "dbscanLabels" -> (db.collect().map(_.toSeq).toSet == dbRef.collect().map(_.toSeq).toSet &&
            shape(db) == shape(dbRef)))
        Seq(ppr, pprRef, cv, cvRef, db, dbPairs).foreach(_.unpersist(blocking = false))
        Prop.all(checks.map { case (op, ok) => Prop(ok) :| s"$op on $g" }: _*)
      })
    info(f"${r.succeeded} cases in ${(System.nanoTime() - started) / 1e9}%.1f s")
    assert(r.passed, r.status.toString)
  }
}

object PropertySpec {
  /** One random small weighted digraph: 1–3 disconnected parts, ids of
    * one kind (int, long beyond the int range, or strings including
    * non-ASCII and supplementary-plane names — the first part mixes
    * supplementary characters with U+E000..U+FFFF ones, which sort in a
    * different order as UTF-16 than as UTF-8 bytes, the order Spark
    * uses), self-loops, duplicate
    * (src, dst) pairs with different weights, and now and then a null
    * endpoint; plus a seed set for personalized rank (ids of the graph,
    * sometimes an absent one, rarely a null); plus, for DBSCAN, an angle
    * in degrees per node index, placing the graph's nodes as unit
    * vectors on a circle, and a `minPts`. */
  final case class RandomGraph(
      kind: String, edges: Seq[(Option[Int], Option[Int], Long)],
      seeds: Seq[Option[Int]], angles: Vector[Int], minPts: Int) {
    private val names = Vector("\uE000", "\uD800\uDC00", "\uFFFD", "\uD83D\uDE00",
      "\uF900", "a", "é", "ß", "Ω", "日本", "z", "ｚ", "ñandú", "語", "0")
    private def id(i: Int): Any = kind match {
      case "int" => i * 7 - 20
      case "long" => i * 10000000000L + 3L
      case _ => names(i % names.length) + (if (i >= names.length) i.toString else "")
    }
    /** (id: long, vec: array<float>) over the graph's non-null nodes: the
      * id is the node's own for the integral kinds and its index for
      * strings, so the driver labelling always runs. */
    def corpus(spark: SparkSession): DataFrame = {
      import spark.implicits._
      edges.flatMap(e => e._1.toList ++ e._2.toList).distinct.map { i =>
        val r = math.toRadians(angles(i).toDouble)
        val key = id(i) match {
          case n: Int => n.toLong
          case n: Long => n
          case _ => i.toLong
        }
        (key, Seq(math.cos(r).toFloat, math.sin(r).toFloat, 0f))
      }.toDF("id", "vec")
    }

    def frames(spark: SparkSession): (DataFrame, DataFrame) = {
      import spark.implicits._
      def o(x: Option[Int]) = x.map(id).orNull
      kind match {
        case "int" =>
          (edges.map { case (s, d, w) => (s.map(id(_).asInstanceOf[Int]),
            d.map(id(_).asInstanceOf[Int]), w) }.toDF("src", "dst", "w"),
            seeds.map(_.map(id(_).asInstanceOf[Int])).toDF("node"))
        case "long" =>
          (edges.map { case (s, d, w) => (s.map(id(_).asInstanceOf[Long]),
            d.map(id(_).asInstanceOf[Long]), w) }.toDF("src", "dst", "w"),
            seeds.map(_.map(id(_).asInstanceOf[Long])).toDF("node"))
        case _ =>
          (edges.map { case (s, d, w) => (o(s).asInstanceOf[String],
            o(d).asInstanceOf[String], w) }.toDF("src", "dst", "w"),
            seeds.map(o(_).asInstanceOf[String]).toDF("node"))
      }
    }
  }
}
