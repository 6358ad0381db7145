package graft.beacon

import graft.core.Tables
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Fetch of the two one-shot foundation payloads (S7; reference:
  * src/services/beacon_api.py genesis/spec endpoints). */
trait FoundationFetcher extends Serializable {
  def genesis(): String
  def specs(): String
}

/** Beacon-node HTTP foundation fetch (`/eth/v1/beacon/genesis`,
  * `/eth/v1/config/spec`). */
final case class HttpFoundationFetcher(
    baseUrl: String, apiKey: Option[String] = None,
    timeoutMillis: Long = 60000L,
    maxRetries: Int = 3,
    backoffMillis: Long = 5000L) extends FoundationFetcher {
  @transient private lazy val client = java.net.http.HttpClient.newHttpClient()
  // shared S1 retry machine: transient 5xx/IO errors retry with backoff,
  // hard 4xx misconfigurations fail fast with a clear message
  private def get(path: String): String = {
    val qp = apiKey.map(k => s"?api_key=$k").getOrElse("")
    val uri = java.net.URI.create(s"$baseUrl$path$qp")
    HttpRetry.get(client, uri, timeoutMillis, maxRetries, backoffMillis) match {
      case (200, body) => body
      case (code, _) => sys.error(s"HTTP $code for $baseUrl$path")
    }
  }
  def genesis(): String = get("/eth/v1/beacon/genesis")
  def specs(): String = get("/eth/v1/config/spec")
}

/** Offline/test foundation fetcher over literal payloads. */
final case class MapFoundationFetcher(genesisJson: String, specsJson: String)
    extends FoundationFetcher {
  def genesis(): String = genesisJson
  def specs(): String = specsJson
}

/** Foundation bootstrap (D9): genesis + specs + time_helpers, the three
  * driver-side config tables everything else derives timing from
  * (reference: src/loaders/{genesis,specs}.py, migrations/001,002).
  */
object Foundation {

  /** P23: genesis payload → 1-row table. `genesis_time` arrives either as
    * a unix-seconds digit string or ISO-8601 `Z` (reference:
    * src/loaders/genesis.py:61-84 — C13). */
  def genesis(spark: SparkSession, payloadJson: String): DataFrame = {
    import spark.implicits._
    val schema = StructType(Seq(
      StructField("data", StructType(Seq(
        StructField("genesis_time", StringType),
        StructField("genesis_validators_root", StringType),
        StructField("genesis_fork_version", StringType))))))
    Seq(payloadJson).toDF("payload")
      .withColumn("p", from_json(col("payload"), schema))
      .select(
        when(col("p.data.genesis_time").rlike("^\\d+$"),
          timestamp_seconds(col("p.data.genesis_time").cast("long")))
          .otherwise(to_timestamp(col("p.data.genesis_time")))
          .as("genesis_time"),
        coalesce(col("p.data.genesis_validators_root"), lit("")).as("genesis_validators_root"),
        coalesce(col("p.data.genesis_fork_version"), lit("")).as("genesis_fork_version"))
  }

  /** P24a: specs object → k/v unpivot (`explode` of the parsed map — the
    * reference's dict→rows melt, src/loaders/specs.py:24-91). */
  def specs(spark: SparkSession, payloadJson: String): DataFrame = {
    import spark.implicits._
    Seq(payloadJson).toDF("payload")
      .withColumn("m", from_json(
        get_json_object(col("payload"), "$.data"), MapType(StringType, StringType)))
      .select(explode(col("m")).as(Seq("parameter_name", "parameter_value")))
      .withColumn("updated_at", current_timestamp())
  }

  /** P24b: time_helpers — 1-row compose of specs timing + genesis time
    * (driver-side crossJoin of two 1-row frames, J7). */
  def timeHelpers(genesisDf: DataFrame, specsDf: DataFrame): DataFrame = {
    val timing = specsDf
      .groupBy()
      .agg(
        max(when(col("parameter_name") === "SECONDS_PER_SLOT", col("parameter_value")))
          .cast("long").as("seconds_per_slot"),
        max(when(col("parameter_name") === "SLOTS_PER_EPOCH", col("parameter_value")))
          .cast("long").as("slots_per_epoch"))
      .na.fill(Map("seconds_per_slot" -> 12L, "slots_per_epoch" -> 32L))
    genesisDf
      .select(unix_timestamp(col("genesis_time")).as("genesis_time_unix"))
      .crossJoin(timing)
  }

  /** Assemble a [[ChainConfig]] from materialized foundation tables
    * (reference D8 flow: specs rows → fork epochs; genesis → timing). */
  def chainConfig(genesisDf: DataFrame, specsDf: DataFrame, network: String): ChainConfig = {
    val g = genesisTimeOf(genesisDf)
    ChainConfig.fromSpecs(
      specsDf.select(col("parameter_name"), col("parameter_value")), g, network)
  }

  /** Genesis unix time with a DIAGNOSABLE failure mode: an empty genesis
    * frame or an unparseable genesis_time would otherwise surface as a
    * bare NoSuchElementException/NPE far from the malformed payload. */
  private def genesisTimeOf(genesisDf: DataFrame): Long = {
    val rows = genesisDf.select(unix_timestamp(col("genesis_time"))).head(1)
    require(rows.nonEmpty, "genesis table is empty — re-run bootstrap")
    require(!rows.head.isNullAt(0),
      "genesis_time is unparseable (neither unix seconds nor ISO-8601) — check the node's /eth/v1/beacon/genesis payload")
    rows.head.getLong(0)
  }

  def genesisDir(baseDir: String): String = s"$baseDir/tables/genesis"
  def specsDir(baseDir: String): String = s"$baseDir/tables/specs"
  def timeHelpersDir(baseDir: String): String = s"$baseDir/tables/time_helpers"
  def rawGenesisDir(baseDir: String): String = s"$baseDir/raw_genesis"
  def rawSpecsDir(baseDir: String): String = s"$baseDir/raw_specs"

  /** Raw foundation payload row — same shape as the slot raw tables minus
    * the slot (reference stores the unparsed genesis/specs JSON beside the
    * structured rows, migrations/003_raw_tables.sql:25-35): the audit
    * trail that lets the structured tables be re-parsed byte-for-byte. */
  private def rawPayload(spark: SparkSession, payloadJson: String): DataFrame = {
    import spark.implicits._
    Seq(payloadJson).toDF("payload")
      .select(
        col("payload"),
        lit(graft.functions.CanonicalJson.payloadHash16(payloadJson)).as("payload_hash"),
        current_timestamp().as("retrieved_at"))
  }

  /** The reference's mandatory pre-load sequence (genesis → specs →
    * verify, src/services/loader.py:1008-1060): fetch both payloads,
    * VERIFY a previously-stored genesis agrees (a node for a different
    * chain must not silently corrupt the dataset), materialize all three
    * foundation tables, and return the derived [[ChainConfig]] the load/
    * transform should run with. */
  def bootstrap(
      spark: SparkSession, fetcher: FoundationFetcher, baseDir: String,
      network: String): ChainConfig = {
    val genesisJson = fetcher.genesis()
    val specsJson = fetcher.specs()
    val g = genesis(spark, genesisJson)
    val s = specs(spark, specsJson)
    val gDir = genesisDir(baseDir)
    if (graft.core.Fs.hasParquetFiles(spark, gDir)) {
      val stored = genesisTimeOf(Tables.open(spark, gDir))
      val fetched = genesisTimeOf(g)
      require(stored == fetched,
        s"genesis verify failed: stored=$stored node=$fetched — refusing to mix chains")
    }
    // raw payloads land beside the structured tables (S7 audit parity):
    // re-parse of raw_genesis/raw_specs must reproduce genesis/specs
    rawPayload(spark, genesisJson).write.mode("overwrite").parquet(rawGenesisDir(baseDir))
    rawPayload(spark, specsJson).write.mode("overwrite").parquet(rawSpecsDir(baseDir))
    g.write.mode("overwrite").parquet(gDir)
    s.write.mode("overwrite").parquet(specsDir(baseDir))
    timeHelpers(g, s).write.mode("overwrite").parquet(timeHelpersDir(baseDir))
    chainConfig(g, s, network)
  }

  /** `maintain refresh-specs` (reference: src/cli.py:77-82): re-fetch the
    * spec table and recompute time_helpers against the stored genesis. */
  def refreshSpecs(
      spark: SparkSession, fetcher: FoundationFetcher, baseDir: String): Long = {
    // the same chain-mixing guard bootstrap enforces: refreshing specs
    // from a node for a DIFFERENT chain would silently overwrite the
    // stored schedule (slot cadence, fork epochs) with the wrong one
    if (graft.core.Fs.hasParquetFiles(spark, genesisDir(baseDir))) {
      val stored = genesisTimeOf(Tables.open(spark, genesisDir(baseDir)))
      val nodeGenesis = genesisTimeOf(genesis(spark, fetcher.genesis()))
      require(stored == nodeGenesis,
        s"refresh-specs verify failed: stored genesis=$stored node=$nodeGenesis — refusing to mix chains")
    }
    val specsJson = fetcher.specs()
    val s = specs(spark, specsJson)
    rawPayload(spark, specsJson).write.mode("overwrite").parquet(rawSpecsDir(baseDir))
    s.write.mode("overwrite").parquet(specsDir(baseDir))
    if (graft.core.Fs.hasParquetFiles(spark, genesisDir(baseDir))) {
      val g = Tables.open(spark, genesisDir(baseDir))
      timeHelpers(g, Tables.open(spark, specsDir(baseDir)))
        .write.mode("overwrite").parquet(timeHelpersDir(baseDir))
    }
    Tables.open(spark, specsDir(baseDir)).count()
  }

  /** Rebuild the ChainConfig from previously-bootstrapped foundation
    * tables, falling back to the static network preset when absent. */
  def storedConfig(spark: SparkSession, baseDir: String, network: String): ChainConfig =
    if (graft.core.Fs.hasParquetFiles(spark, genesisDir(baseDir)) &&
        graft.core.Fs.hasParquetFiles(spark, specsDir(baseDir)))
      chainConfig(
        Tables.open(spark, genesisDir(baseDir)),
        Tables.open(spark, specsDir(baseDir)), network)
    // unknown networks default to the mainnet preset — the SAME fallback
    // ChainConfig.fromSpecs uses, so the derived and preset paths agree
    // for an identical CLI invocation
    else if (network == "gnosis") ChainConfig.gnosis
    else ChainConfig.mainnet
}
