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
  * `spark.sql.shuffle.partitions` to ~2-3x total cores), and a codegen
  * cache of [[CodegenCacheEntries]] classes.
  */
object Sessions {
  /** Capacity of Spark's JVM-wide cache of compiled generated classes
    * (`spark.sql.codegen.cache.maxEntries`, default 100). Every pipeline
    * stage and library query runs as generated Java, and a class is reused
    * only while it stays in this cache; a miss costs a Janino compile and
    * a cold JIT on every call. The default is smaller than one call's
    * working set: one pass over the benchmark's 14 operator queries
    * compiles 206 distinct classes and one fused backfill operation
    * (ingest, transform, `latest()`) 160, so at 100 entries each pass
    * recompiled 191 classes and each backfill operation about 150, all
    * identical to ones compiled a call earlier.
    *
    * Sizing: the cache is a Guava LRU cache of 4 segments of a quarter of
    * the cap each, and its key hashes the class loader's identity, so how
    * a working set spreads over the segments changes from run to run. A
    * cyclic working set larger than its segment thrashes it (a cap of 200
    * recompiled 119 classes on every operators pass). The cap is the
    * smallest round one at which a repeated call compiles nothing new in
    * all but about 1 run in 2,500: at 300 each segment holds 75 classes,
    * and the operators set puts Binomial(206, 1/4) into each, 52 ± 6, so
    * one of the 4 overflows with odds of 4e-4 (at 256, 8%; the backfill
    * set is smaller). Retained heap grows by the classes kept.
    *
    * The cache is static: the first session of a JVM fixes its size. Its
    * key includes the class loader, so a new SparkContext (a new executor
    * class loader) compiles its task-side classes once more. */
  val CodegenCacheEntries = 300

  def local(cores: Int = 32): SparkSession = {
    val s = SparkSession
      .builder()
      .master(s"local[$cores]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
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
