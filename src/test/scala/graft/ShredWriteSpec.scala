package graft

import graft.beacon._
import graft.core.{Fs, NioLocalFileSystem, Sessions}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.FileSystem
import org.apache.spark.Success
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageSubmitted, SparkListenerTaskEnd}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Path => JPath}
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._

/** The transform's one write job for all block tables: what it leaves on
  * disk equals one `DataFrameWriter` append per `parseAll` table, a write
  * killed after some of its tasks committed publishes nothing, and the
  * session's local filesystem sets the same modes as Hadoop's. */
class ShredWriteSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark
  import spark.implicits._

  private val cfg = ChainConfig.gnosis

  private def tmp(): String = Files.createTempDirectory("graft_shred").toString

  private val electra = BeaconFixtures.electraBlock
  private def atSlot(slot: Long, payload: String): String =
    payload.replace("\"slot\": \"21405700\"", s"""\"slot\": \"$slot\"""")
  private val csvVariant = electra.replace(
    "\"attesting_indices\": [\"1\", \"2\", \"3\"]", "\"attesting_indices\": \"1, 2, 3\"")
  private val truncated = electra.substring(0, (electra.length * 3) / 5)
  private val malformed = Seq("complete garbage", "\"Too Many Requests\"", "[1,2,3]", "{}")

  /** A seeded chain over `n` slots from `first`: each slot is empty or
    * carries an Electra block, the CSV variant, a truncated or malformed
    * payload, or the phase0 fixture; some slots were fetched twice. */
  private def chain(seed: Long, first: Long, n: Int): Seq[(Long, String, Long)] = {
    val rnd = new scala.util.Random(seed)
    (first until first + n).flatMap { s =>
      val payload = rnd.nextInt(10) match {
        case 0 => None
        case 1 => Some(BeaconFixtures.phase0Block)
        case 2 => Some(atSlot(s, csvVariant))
        case 3 => Some(truncated)
        case 4 => Some(malformed(rnd.nextInt(malformed.size)))
        case _ => Some(atSlot(s, electra))
      }
      payload.toSeq.flatMap { p =>
        if (rnd.nextInt(6) == 0) Seq((s, p.replace("0xabc", "0xabd"), 1L), (s, p, 2L))
        else Seq((s, p, 1L))
      }
    }
  }

  /** Raw rows (slot, payload, retrieval second) as the raw table. */
  private def writeRaw(dir: String, rows: Seq[(Long, String, Long)]): Unit =
    rows.map { case (s, p, t) =>
      (s, p, graft.functions.CanonicalJson.payloadHash16(p), new java.sql.Timestamp(t * 1000L))
    }.toDF("slot", "payload", "payload_hash", "retrieved_at").write.parquet(dir)

  /** The per-table reference: each `parseAll` table of the deduped raw
    * slots of `ranges` (contiguous) appended on its own by a
    * `DataFrameWriter`. */
  private def reference(rawDir: String, outDir: String, ranges: Seq[(Long, Long)],
      version: Long): Unit = {
    val deduped = Transformer.chunkData(Transformer.readRaw(spark, rawDir),
      ranges.map(_._1).min, ranges.map(_._2).max)
    BlockParser.parseAll(deduped, cfg, version).foreach { case (t, df) =>
      df.withColumn("month", date_format(cfg.slotTimestamp(col("slot")), "yyyy-MM"))
        .sortWithinPartitions("slot")
        .write.mode(SaveMode.Append).partitionBy("month")
        .option("maxRecordsPerFile", Loaders.maxRecordsPerFile(t))
        .parquet(s"$outDir/$t")
    }
  }

  /** Month directories and markers of a table directory. */
  private def layout(dir: String): Set[String] =
    Option(new java.io.File(dir).listFiles()).toSeq.flatten
      .filter(f => f.isDirectory || f.getName == "_SUCCESS").map(_.getName).toSet

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  private def assertSameTables(got: String, want: String): Unit =
    Transformer.blockTables.toSeq.sorted.foreach { t =>
      assert(layout(s"$got/$t") === layout(s"$want/$t"), t)
      assert(layout(s"$want/$t").contains("_SUCCESS"), t)
      assert(Fs.hasParquetFiles(spark, s"$got/$t") === Fs.hasParquetFiles(spark, s"$want/$t"), t)
      if (Fs.hasParquetFiles(spark, s"$want/$t")) {
        val g = spark.read.parquet(s"$got/$t")
        val w = spark.read.parquet(s"$want/$t")
        assert(g.schema.map(f => f.name -> f.dataType) === w.schema.map(f => f.name -> f.dataType), t)
        assert(rows(g) === rows(w), t)
      }
    }

  test("one write job: fork, malformed, truncated and CSV-variant payloads equal per-table appends") {
    val base = tmp()
    val payloads = Seq(
      5L -> BeaconFixtures.phase0Block, // gnosis genesis month
      21405700L -> electra,
      21405701L -> atSlot(21405701L, csvVariant),
      21405702L -> truncated) ++
      malformed.zipWithIndex.map { case (p, i) => (21405703L + i) -> p }
    writeRaw(s"$base/raw", payloads.map { case (s, p) => (s, p, 1L) })
    val range = (0L, 21405710L)
    assert(Transformer.transformChunk(spark, cfg, Loaders.blocks, s"$base/raw",
      s"$base/tables", LedgerStore(s"$base/progress"), range._1, range._2, version = 42L))
    reference(s"$base/raw", s"$base/ref", Seq(range), 42L)
    assertSameTables(s"$base/tables", s"$base/ref")
    assert(layout(s"$base/tables/blocks").count(_.startsWith("month=")) === 2)
    Fs.deleteDir(spark, base)
  }

  test("one write job: a seeded chain over several ranges equals per-table appends") {
    val base = tmp()
    writeRaw(s"$base/raw", chain(seed = 20261019L, first = 21405700L, n = 160))
    val ranges = (0 until 4).map(i => (21405700L + 40L * i, 21405739L + 40L * i))
    assert(Transformer.transformChunksFused(spark, cfg, Loaders.blocks, s"$base/raw",
      s"$base/tables", LedgerStore(s"$base/progress"), ranges, version = 7L))
    reference(s"$base/raw", s"$base/ref", ranges, 7L)
    assertSameTables(s"$base/tables", s"$base/ref")
    // no stage directory is left next to the tables
    assert(layout(s"$base/tables").forall(n => Transformer.blockTables.contains(n)))
    Fs.deleteDir(spark, base)
  }

  test("files roll over at maxRecordsPerFile as in a DataFrameWriter append") {
    val base = tmp()
    val shredded = spark.range(0, 60, 1, 3).toDF("slot")
      .select(col("slot"), when(col("slot") < 30, "2024-01").otherwise("2024-02").as("month"),
        array_repeat(struct(col("slot"), (col("slot") * 2).as("v")), 3).as("t"))
    val write = new graft.core.ShredWrite(spark, s"$base/shred", _ => 7L, Vector((0L, 59L)))
    org.apache.spark.sql.graft.Bridge.appendV2(shredded, write)
    shredded.select(col("month"), inline(col("t"))).write.partitionBy("month")
      .option("maxRecordsPerFile", 7L).parquet(s"$base/ref/t")
    def files(dir: String) = layout(dir).filter(_.startsWith("month=")).map { m =>
      m -> new java.io.File(s"$dir/$m").list().count(_.endsWith(".parquet"))
    }.toMap
    assert(files(s"$base/shred/t") === files(s"$base/ref/t"))
    // tasks of slots 0-19, 20-39, 40-59: 60, 30 + 30 and 60 rows of a month
    assert(files(s"$base/shred/t").values.sum === 9 + 5 + 5 + 9)
    assert(write.result.tableRows === Map("t" -> 180L) && write.result.rangeRows.toSeq === Seq(180L))
    assert(rows(spark.read.parquet(s"$base/shred/t")) === rows(spark.read.parquet(s"$base/ref/t")))
    Fs.deleteDir(spark, base)
  }

  test("a write killed after some tasks committed publishes no file and no completed row; a retry equals a clean run") {
    val base = tmp()
    writeRaw(s"$base/raw", chain(seed = 7L, first = 21405700L, n = 120))
    val ranges = (0 until 3).map(i => (21405700L + 40L * i, 21405739L + 40L * i))
    val poisonSlot = 21405719L
    assert(Transformer.transformChunksFused(spark, cfg, Loaders.blocks, s"$base/raw",
      s"$base/clean", LedgerStore(s"$base/clean_progress"), ranges, version = 3L))
    // the task that holds `poisonSlot` fails once another write task has
    // committed; the rest of its partition never reaches a writer
    val listener = new CommittedTasks
    spark.sparkContext.addSparkListener(listener)
    ShredWriteSpec.committed.set(0)
    val poison = udf { (slot: Long, month: String) =>
      if (slot == poisonSlot) {
        val deadline = System.currentTimeMillis() + 60000L
        while (ShredWriteSpec.committed.get() == 0 && System.currentTimeMillis() < deadline)
          Thread.sleep(10)
        throw new IllegalStateException("killed")
      }
      month
    }
    val poisoned = Loaders.blocks.copy(shred = (raw, c, v) =>
      Loaders.blocks.shred(raw, c, v).withColumn("month", poison(col("slot"), col("month"))))
    val progress = LedgerStore(s"$base/progress")
    val killed = try Sessions.withConf(spark, "spark.sql.adaptive.coalescePartitions.enabled" -> "false") {
      Transformer.transformChunksFused(spark, cfg, poisoned, s"$base/raw", s"$base/tables",
        progress, ranges, version = 3L)
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(!killed)
    assert(ShredWriteSpec.committed.get() >= 1, "no write task had committed before the kill")
    val left = if (Files.exists(JPath.of(s"$base/tables")))
      Files.walk(JPath.of(s"$base/tables")).iterator().asScala.filter(Files.isRegularFile(_)).toSeq
    else Nil
    assert(left.isEmpty, left.take(5))
    assert(!Fs.exists(spark, s"$base/progress") ||
      progress.read(spark, Schemas.transformerProgress).filter(col("status") === "completed").isEmpty)
    // the retry publishes what a clean run does
    assert(Transformer.transformChunksFused(spark, cfg, Loaders.blocks, s"$base/raw",
      s"$base/tables", progress, ranges, version = 3L))
    Transformer.blockTables.filter(t => Fs.hasParquetFiles(spark, s"$base/clean/$t")).foreach { t =>
      def latest(dir: String) =
        rows(Transformer.latestTable(spark, dir, t, Transformer.tableKeys(t)))
      assert(latest(s"$base/tables") === latest(s"$base/clean"), t)
    }
    assert(Transformer.blockTables.forall(t =>
      Fs.hasParquetFiles(spark, s"$base/tables/$t") === Fs.hasParquetFiles(spark, s"$base/clean/$t")))
    Fs.deleteDir(spark, base)
  }

  test("the session's file: filesystem is NioLocalFileSystem, also after a plain one was cached") {
    val conf = spark.sparkContext.hadoopConfiguration
    val root = java.net.URI.create("file:///")
    // replace the cached instance with a plain LocalFileSystem, as code
    // running ahead of the first session would leave it
    FileSystem.get(root, conf).close()
    val plain = FileSystem.get(root, new Configuration())
    assert(!plain.isInstanceOf[NioLocalFileSystem])
    assert(Sessions.local(4) eq spark)
    assert(FileSystem.get(root, conf).isInstanceOf[NioLocalFileSystem])
    assert(FileSystem.get(root, new Configuration()).isInstanceOf[NioLocalFileSystem])
  }

  test("file and directory modes of a parquet write equal Hadoop's chmod-based local filesystem") {
    val base = tmp()
    val df = spark.range(0, 100, 1, 3).toDF("x").withColumn("m", col("x") % 2)
    df.write.partitionBy("m").parquet(s"$base/nio")
    // the class a plain Hadoop configuration resolves `file:` to, uncached
    df.write.partitionBy("m")
      .option("fs.file.impl", FileSystem.getFileSystemClass("file", new Configuration()).getName)
      .option("fs.file.impl.disable.cache", "true")
      .parquet(s"$base/hadoop")
    val uuid = "[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}"
    def modes(dir: String): Map[String, String] = {
      val root = JPath.of(dir)
      Files.walk(root).iterator().asScala.map { p =>
        root.relativize(p).toString.replaceAll(uuid, "U") ->
          java.nio.file.attribute.PosixFilePermissions.toString(Files.getPosixFilePermissions(p))
      }.toMap
    }
    val nio = modes(s"$base/nio")
    assert(nio.keys.exists(_.endsWith(".parquet")) && nio.keys.exists(_.startsWith("m=")))
    assert(nio === modes(s"$base/hadoop"))
    Fs.deleteDir(spark, base)
  }
}

object ShredWriteSpec {
  /** Successful result tasks of multi-task stages: committed write tasks. */
  val committed = new AtomicInteger(0)
}

/** Counts a successful result task of a stage with more than one task
  * into [[ShredWriteSpec.committed]]. */
private class CommittedTasks extends SparkListener {
  private val multiTask = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    if (e.stageInfo.numTasks > 1) multiTask.add(e.stageInfo.stageId)
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (e.taskType == "ResultTask" && e.reason == Success && multiTask.contains(e.stageId))
      ShredWriteSpec.committed.incrementAndGet()
}
