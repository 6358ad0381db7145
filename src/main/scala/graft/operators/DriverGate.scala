package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

/** The one policy that sends an iterative graph operator to its
  * driver-side kernel ([[DriverRank]], [[DriverUnionFind]]).
  *
  * Why: the declared graph queries iterate over edge lists of a few dozen
  * to a few thousand rows (event-type transition graphs, confirmed
  * near-dup pairs), where every distributed round is pure per-action
  * overhead — g1/g2/g3 spent ≥90% of 1.5–2 s in fixed per-action cost,
  * and g9 ran 93 jobs over a 10k-edge graph at sf0.1.
  *
  * What routes to the driver: the operator collects its edge list with
  * ONE bounded action ([[collect]]: `limit(ceiling + 1)`, so the size
  * probe is also the fetch) and runs its driver kernel when
  *  - the list has at most the family's ceiling of rows — [[RankEdges]]
  *    (100k) for the PageRank fixed points, [[UnionFindEdges]] (1M) for
  *    the union-find labellings ([[Graph.connectedComponents]],
  *    `Similarity.dbscanLabels`);
  *  - no endpoint, weight or seed is null;
  *  - the ids are integral (byte/short/int/long) — or, for rank, strings
  *    on both sides.
  * Anything else runs the distributed loop unchanged. Both paths return
  * the same rows under the same column names and types, ids in the
  * coerced src∪dst type.
  *
  * Why two ceilings: union-find touches each edge once in primitive
  * arrays (~30 MB of driver heap at 1M edges), while a rank kernel
  * iterates over its working set, so it stays ~30× smaller (~3 MB at
  * 100k edges). The bounded collect itself holds up to `ceiling` rows
  * for the duration of the call.
  *
  * Why exact mode only for rank: only the `exact = true` plans fold
  * contributions in a defined (src-sorted) order, so only they have an
  * IEEE operation order the driver can reproduce bit for bit; the
  * unordered `sum` of the default mode always runs distributed.
  *
  * The ceilings are constants, not parameters: tests reach each
  * distributed loop by name (`Graph.pageRankDistributed`,
  * `Graph.connectedComponentsDistributed`, `Similarity.dbscanDistributed`
  * and their siblings) and pin it equal to the driver path.
  */
private[operators] object DriverGate {

  /** Edge ceiling of the PageRank driver kernels. */
  val RankEdges: Int = 100000

  /** Edge ceiling of the union-find driver kernels. */
  val UnionFindEdges: Int = 1000000

  /** Rows above which [[datasetOf]] ships through an RDD instead of a
    * LocalRelation. */
  private val LocalRelationMax = 10000

  private val integralTypes: Set[DataType] =
    Set(ByteType, ShortType, IntegerType, LongType)

  def integral(t: DataType): Boolean = integralTypes(t)

  /** Every row of `df` when there are at most `ceiling` of them and no
    * field is null, from one bounded action; None routes the caller
    * distributed. */
  def collect(df: DataFrame, ceiling: Int): Option[Array[Row]] = {
    val rows = df.limit(ceiling + 1).collect()
    if (rows.length > ceiling || rows.exists(_.anyNull)) None else Some(rows)
  }

  /** The coerced type of the src ∪ dst id columns: the id type both paths
    * emit, so the output schema never depends on the path taken. */
  def nodeType(edges: DataFrame, srcCol: String, dstCol: String): DataType =
    edges.select(col(srcCol).as("n"))
      .union(edges.select(col(dstCol).as("n"))).schema.head.dataType

  /** The (src, dst) edges as longs for a union-find kernel, or None for
    * non-integral ids, null endpoints or more than [[UnionFindEdges]]
    * edges. */
  def longPairs(
      edges: DataFrame, srcCol: String, dstCol: String): Option[Array[(Long, Long)]] = {
    val ids = edges.select(col(srcCol), col(dstCol)).schema.map(_.dataType)
    if (!ids.forall(integral)) None
    else collect(edges.select(col(srcCol).cast(LongType), col(dstCol).cast(LongType)),
      UnionFindEdges).map(_.map(r => (r.getLong(0), r.getLong(1))))
  }

  /** Lift driver-computed rows into a Dataset without embedding a giant
    * LocalRelation in the plan: small results stay a LocalRelation
    * (constant-folds, broadcasts, keeps the LocalTableScan plan shape);
    * larger ones ship through an RDD, so the analyzer never walks a
    * multi-million-row literal and the driver never holds a second copy
    * inside the plan tree. */
  def datasetOf[T: Encoder: scala.reflect.ClassTag](
      spark: SparkSession, rows: Seq[T]): Dataset[T] =
    if (rows.length <= LocalRelationMax) spark.createDataset(rows)
    else {
      val slices = math.max(1, math.min(
        spark.sparkContext.defaultParallelism, rows.length / 100000 + 1))
      spark.createDataset(spark.sparkContext.parallelize(rows, slices))
    }
}
