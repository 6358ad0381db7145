package graft.core

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.{DataFrame, SparkSession}

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

/** Readers for the driver-generated testdata tables (TESTDATA.md) and for
  * engine-managed parquet datasets.
  *
  * Every engine read of a parquet dataset without a declared schema goes
  * through [[open]]. `spark.read.parquet(path)` infers the schema with a
  * one-task Spark job (`ParquetUtils.inferSchema` reads a footer inside a
  * task, even for one file), which costs a job and its scheduling gap on
  * every table open. `open` reads the same footer on the driver instead:
  * the same file, the same converter, so the same schema, and no job.
  *
  * All engine I/O is parquet; filters and projections over these readers are
  * pushed down by Catalyst into the parquet scan (verified via
  * `.explain("formatted")` — `PushedFilters` / `ReadSchema`), which is the
  * scale path for a 100 TB cluster deployment: only the touched columns and
  * row groups are read.
  */
object Tables {
  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    open(spark, s"$dir/$name.parquet")

  /** `spark.read.parquet(path)` without the schema-inference job.
    *
    * Lists `path` as Spark's file index does: entries below the root whose
    * names start with '_' or '.' are skipped, except the `_metadata` and
    * `_common_metadata` summaries, and files in subdirectories count only
    * when some directory is a `key=value` partition. Then it picks the
    * file Spark's inference picks when schema merging is off: a
    * `_common_metadata` summary, else a `_metadata` one, else the first
    * data file in path order. Its footer is read on the driver and
    * converted by `readSchemaFromFooter` (the stored Spark schema when the
    * writer kept one, else the parquet schema through a converter built
    * from the session's SQL conf), and the dataset is read with that
    * schema. Partition columns are still discovered from the directory
    * names, as in a plain read.
    *
    * Falls back to `spark.read.parquet(path)`, and so to Spark's own
    * schema or error, when no file is named `path` (a missing path or a
    * glob) or it holds no data file, when the footer cannot be read, when
    * `spark.sql.parquet.mergeSchema` is on, or when a footer column shares
    * a partition column's name (a declared schema would move that column
    * to the end). */
  def open(spark: SparkSession, path: String): DataFrame =
    footerSchema(spark, path).fold(spark.read.parquet(path))(spark.read.schema(_).parquet(path))

  private def footerSchema(spark: SparkSession, path: String): Option[StructType] = {
    val sqlConf = spark.sessionState.conf
    if (sqlConf.isParquetSchemaMergingEnabled) return None
    val conf = Bridge.newHadoopConf(spark)
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    val root =
      try fs.getFileStatus(p) // a glob names no file either
      catch { case _: java.io.FileNotFoundException => return None }
    def summary(name: String) = name == "_metadata" || name == "_common_metadata"
    // Spark's HadoopFSUtils.shouldFilterOutPathName
    def listed(name: String) =
      name.startsWith("_metadata") || name.startsWith("_common_metadata") ||
        !((name.startsWith("_") && !name.contains("=")) || name.startsWith(".") ||
          name.endsWith("._COPYING_"))
    val leaves = ArrayBuffer.empty[(FileStatus, Int)]
    val partCols = scala.collection.mutable.Set.empty[String]
    def walk(st: FileStatus, depth: Int): Unit =
      if (!st.isDirectory) leaves += st -> depth
      else fs.listStatus(st.getPath).iterator.filter(c => listed(c.getPath.getName)).foreach { c =>
        val name = c.getPath.getName
        if (c.isDirectory && name.contains("=")) partCols += name.takeWhile(_ != '=').toLowerCase
        walk(c, depth + 1)
      }
    walk(root, 0)
    // with no partition directory the file index holds the root's own files
    val sorted = leaves.collect { case (st, d) if d <= 1 || partCols.nonEmpty => st }
      .sortBy(_.getPath.toString)
    def named(n: String) = sorted.find(_.getPath.getName == n)
    named("_common_metadata").orElse(named("_metadata"))
      .orElse(sorted.find(f => !summary(f.getPath.getName)))
      .flatMap { st =>
        try {
          val meta = ParquetFooterReader.readFooter(
            HadoopInputFile.fromStatus(st, conf), ParquetMetadataConverter.SKIP_ROW_GROUPS)
          Some(ParquetFileFormat.readSchemaFromFooter(
            new Footer(st.getPath, meta), new ParquetToSparkSchemaConverter(sqlConf)))
        } catch { case NonFatal(_) => None }
      }
      .filterNot(_.fieldNames.exists(n => partCols(n.toLowerCase)))
  }

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
  * `spark.sql.shuffle.partitions` to ~2-3x total cores), a codegen
  * cache of [[CodegenCacheEntries]] classes, and [[NioLocalFileSystem]]
  * for `file:` paths.
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
      .config("spark.hadoop.fs.file.impl", classOf[NioLocalFileSystem].getName)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    NioLocalFileSystem.install(s.sparkContext.hadoopConfiguration)
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
