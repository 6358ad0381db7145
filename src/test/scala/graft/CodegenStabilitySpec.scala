package graft

import graft.beacon._
import graft.core.Sessions
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Per-call values stay out of generated source: every table the block and
  * state parsers produce compiles to the same Java whatever its insert
  * version, so a repeated transform reuses the classes the call before it
  * compiled. The cache size plays no part here: the check compares source
  * text, not cache hits. */
class CodegenStabilitySpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkTestSession.spark
  import spark.implicits._

  private val cfg = ChainConfig.gnosis
  private lazy val base = java.nio.file.Files.createTempDirectory("graft_codegen").toString

  override def afterAll(): Unit = graft.core.Fs.deleteDir(spark, base)

  /** The rows as a raw table, written once and read back: a local
    * relation would be folded at planning time and never reach generated
    * code. */
  private def raw(name: String, rows: (Long, String)*): DataFrame = {
    val dir = s"$base/raw_$name"
    if (!new java.io.File(dir).exists)
      rows.map { case (s, p) =>
        (s, p, graft.functions.CanonicalJson.payloadHash16(p),
          new java.sql.Timestamp(1700000000000L))
      }.toDF("slot", "payload", "payload_hash", "retrieved_at").write.parquet(dir)
    spark.read.parquet(dir)
  }

  private val blobPayload =
    """{"data": [{"index": "0", "kzg_commitment": "0xc", "kzg_proof": "0xp", "blob": "0xdeadbeef"}]}"""

  /** Every parsed table, by name, for one insert version. */
  private def tables(version: Long): Seq[(String, DataFrame)] =
    BlockParser.parseAll(raw("blocks", 21405700L -> BeaconFixtures.electraBlock,
      5L -> BeaconFixtures.phase0Block), cfg, version).toSeq.sortBy(_._1) ++ Seq(
      "validators" -> StateParsers.validators(
        raw("validators", 1000L -> BeaconFixtures.validatorsPayload), cfg, version),
      "rewards" -> StateParsers.rewards(
        raw("rewards", 2000L -> BeaconFixtures.rewardsPayload), cfg, version),
      "pending_consolidations" -> StateParsers.pendingConsolidations(
        raw("consolidations", 3000L -> BeaconFixtures.pendingConsolidationsPayload), cfg, version),
      "pending_deposits" -> StateParsers.pendingDeposits(
        raw("deposits", 3000L -> BeaconFixtures.pendingDepositsPayload), cfg, version),
      "pending_partial_withdrawals" -> StateParsers.pendingPartialWithdrawals(
        raw("partials", 3000L -> BeaconFixtures.pendingPartialWithdrawalsPayload), cfg, version),
      "blob_sidecars" -> StateParsers.blobSidecars(
        raw("blobs", 900000L -> blobPayload), cfg, version),
      "data_column_sidecars" -> StateParsers.dataColumnSidecars(
        raw("columns", 27435008L -> BeaconFixtures.dataColumnSidecarsPayload), cfg, version))

  test("every parsed table compiles to the same generated source for any insert version") {
    // AQE off: an adaptive plan adds its whole-stage code only when it runs
    Sessions.withConf(spark, "spark.sql.adaptive.enabled" -> "false") {
      def sources(version: Long) = tables(version).map { case (name, df) =>
        name -> df.queryExecution.debug.codegenToSeq().map(_._2)
      }
      val a = sources(7L)
      val b = sources(1700000000123L)
      assert(a.map(_._1) === b.map(_._1))
      assert(a.size === 20)
      a.zip(b).foreach { case ((name, sa), (_, sb)) =>
        assert(sa.nonEmpty, s"$name: no whole-stage code")
        assert(sa === sb, s"$name: generated source depends on the insert version")
      }
    }
  }

  test("the written insert_version is the version passed, with whole-stage codegen on and off") {
    for ((wholeStage, version) <- Seq("true" -> 1700000000001L, "false" -> 1700000000002L))
      Sessions.withConf(spark, "spark.sql.codegen.wholeStage" -> wholeStage) {
        val written = tables(version).map { case (name, df) =>
          val dir = s"$base/out_$wholeStage/$name"
          df.write.parquet(dir)
          name -> spark.read.parquet(dir).select("insert_version").as[Long].collect().toSet
        }
        val nonEmpty = written.filter(_._2.nonEmpty)
        // the fixtures leave a few block tables empty; most must have rows
        assert(nonEmpty.size >= 15, written)
        nonEmpty.foreach { case (name, vs) =>
          assert(vs === Set(version), s"$name with wholeStage=$wholeStage")
        }
      }
  }
}
