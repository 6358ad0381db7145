package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Readers for the driver-generated testdata tables (TESTDATA.md) and for
  * engine-managed parquet datasets.
  *
  * All engine I/O is parquet; filters and projections over these readers are
  * pushed down by Catalyst into the parquet scan (verified via
  * `.explain("formatted")` — `PushedFilters` / `ReadSchema`), which is the
  * scale path for a 100 TB cluster deployment: only the touched columns and
  * row groups are read.
  */
object Tables {
  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  def lineitem(s: SparkSession, d: String): DataFrame = table(s, d, "lineitem")
  def orders(s: SparkSession, d: String): DataFrame = table(s, d, "orders")
  def customer(s: SparkSession, d: String): DataFrame = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = table(s, d, "part")
  def nation(s: SparkSession, d: String): DataFrame = table(s, d, "nation")
  def region(s: SparkSession, d: String): DataFrame = table(s, d, "region")
  def events(s: SparkSession, d: String): DataFrame = table(s, d, "events")
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")
}

/** Session factory with the engine's defaults: UTC, AQE on, shuffle
  * partitions sized for the local harness (a cluster deployment overrides
  * `spark.sql.shuffle.partitions` to ~2-3x total cores).
  */
object Sessions {
  def local(cores: Int = 32): SparkSession = {
    val s = SparkSession
      .builder()
      .master(s"local[$cores]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Run `f` with the session confs `kvs` set, then restore each key as
    * it was (unset again when it had not been set). */
  def withConf[T](spark: SparkSession, kvs: (String, String)*)(f: => T): T = {
    val saved = kvs.map { case (k, _) => k -> spark.conf.getAll.get(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try f
    finally saved.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  /** A session with Spark's own defaults (only the master is set): for
    * checks that a caller does not depend on `local`'s settings. */
  def plain(cores: Int): SparkSession = {
    val s = SparkSession.builder().master(s"local[$cores]").getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
