package graft

import graft.beacon._
import graft.core.{Sessions, Tables}
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.time.LocalDateTime
import java.util.concurrent.atomic.AtomicInteger

/** `Tables.open` against `spark.read.parquet`: the same schema (names,
  * types, nullability, order) and rows on every dataset shape the engine
  * reads, with no Spark job to open it. */
class TablesSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark
  import spark.implicits._

  private def tmp(): String = Files.createTempDirectory("graft_tables").toString

  /** `f`'s result and the number of Spark jobs it started, counted after
    * the listener bus has delivered every event. Only jobs of this
    * thread's job group count, so work on other threads cannot leak in. */
  private def jobsOf[T](f: => T): (T, Int) = {
    val sc = spark.sparkContext
    val group = s"tables-spec-${java.util.UUID.randomUUID()}"
    val n = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          n.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "open")
    try {
      val r = f
      org.apache.spark.TestListenerBus.drain(sc)
      (r, n.get)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  private def rows(df: DataFrame): Seq[String] = df.toJSON.collect().toSeq.sorted

  /** Opens `path` both ways: equal schemas and rows, no job for `open`,
    * at least one for Spark's inference. Returns the schema. */
  private def assertParity(path: String) = {
    val (opened, openJobs) = jobsOf { val df = Tables.open(spark, path); df.schema; df }
    val (plain, plainJobs) = jobsOf { val df = spark.read.parquet(path); df.schema; df }
    assert(openJobs === 0, path)
    assert(plainJobs >= 1, path)
    assert(opened.schema === plain.schema, path)
    assert(rows(opened) === rows(plain), path)
    opened.schema
  }

  /** Writes `df` as one parquet file named `name` in `dir`. */
  private def writeOne(df: DataFrame, dir: String, name: String): Unit = {
    val staged = s"$dir/.staged_$name"
    df.coalesce(1).write.parquet(staged)
    val part = new java.io.File(staged).listFiles().find(_.getName.endsWith(".parquet")).get.toPath
    Files.createDirectories(Paths.get(dir, name).getParent)
    Files.move(part, Paths.get(dir, name), StandardCopyOption.REPLACE_EXISTING)
    graft.core.Fs.deleteDir(spark, staged)
  }

  test("Arrow-written single files (no Spark schema in the footer): same schema and rows, no job") {
    Seq("lineitem", "events", "documents", "embeddings").foreach { t =>
      assertParity(s"perfbench/data/ops/$t.parquet")
    }
  }

  test("a file with no Spark schema key: nested struct, list and timestamp_ntz through the converter") {
    val base = tmp()
    try {
      val schema = MessageTypeParser.parseMessageType(
        """message m {
          |  required int64 id;
          |  optional binary name (STRING);
          |  optional int64 ts (TIMESTAMP(MICROS,false));
          |  optional int64 ts_utc (TIMESTAMP(MICROS,true));
          |  optional group tags (LIST) { repeated group list { optional int32 element; } }
          |  optional group info {
          |    optional binary city (STRING);
          |    optional group loc { optional double lat; optional double lon; }
          |  }
          |}""".stripMargin)
      val file = s"$base/plain.parquet"
      val conf = spark.sparkContext.hadoopConfiguration
      val w = ExampleParquetWriter.builder(new Path(file)).withType(schema).withConf(conf).build()
      val groups = new SimpleGroupFactory(schema)
      (0 until 5).foreach { i =>
        val g = groups.newGroup().append("id", i.toLong).append("name", s"n$i")
          .append("ts", 1700000000000000L + i).append("ts_utc", 1700000000000000L - i)
        val tags = g.addGroup("tags")
        (0 until i).foreach(j => tags.addGroup("list").append("element", j))
        val info = g.addGroup("info").append("city", s"c$i")
        info.addGroup("loc").append("lat", i * 1.5).append("lon", -i * 0.5)
        w.write(g)
      }
      w.close()
      val s = assertParity(file)
      assert(s("ts").dataType === org.apache.spark.sql.types.TimestampNTZType)
      assert(s("tags").dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType])
      assert(s("info").dataType.isInstanceOf[org.apache.spark.sql.types.StructType])
    } finally graft.core.Fs.deleteDir(spark, base)
  }

  test("Spark-written part files with _SUCCESS, timestamp_ntz, array and nested-struct columns") {
    val base = tmp()
    try {
      val df = (0 until 40).map { i =>
        (i.toLong, LocalDateTime.of(2024, 1, 1, 0, 0).plusMinutes(i), (0 until i % 4).toArray,
          (s"c$i", (i * 1.5, Seq(s"t$i"))))
      }.toDF("id", "ts", "xs", "info")
      df.repartition(3).write.parquet(s"$base/parts")
      assert(Files.exists(Paths.get(s"$base/parts/_SUCCESS")))
      val s = assertParity(s"$base/parts")
      assert(s("ts").dataType === org.apache.spark.sql.types.TimestampNTZType)
      assert(s.fieldNames.toSeq === Seq("id", "ts", "xs", "info"))
    } finally graft.core.Fs.deleteDir(spark, base)
  }

  test("month-partitioned tables written by the transform, and the raw table") {
    val base = tmp()
    val cfg = ChainConfig.gnosis
    try {
      // two ranges a month apart, so each table has two month directories
      val slots = (0L until 20L) ++ (600000L until 600020L)
      val fetcher = MapSlotFetcher(slots.filter(_ % 5 != 4).map { s =>
        s -> BeaconFixtures.electraBlock.replace("\"slot\": \"21405700\"", s"""\"slot\": \"$s\"""")
      }.toMap)
      val ranges = Seq((0L, 19L), (600000L, 600019L))
      val ledger = LedgerStore(s"$base/cl")
      ranges.foreach { case (s, e) =>
        RawIngest.ingestChunk(spark, cfg, fetcher, s"$base/raw", ledger, "blocks", s, e)
      }
      assert(Transformer.transformChunksFused(spark, cfg, Loaders.blocks, s"$base/raw",
        s"$base/tables", LedgerStore(s"$base/progress"), ranges))
      assert(graft.core.Fs.listDirNames(spark, s"$base/tables/blocks").count(_.startsWith("month=")) === 2)
      Seq("raw", "tables/blocks", "tables/attestations", "tables/withdrawals").foreach { t =>
        val s = assertParity(s"$base/$t")
        assert(s.fieldNames.last === "month", t)
      }
      // the reads that moved onto `open` see the same frames
      val keys = Transformer.tableKeys("blocks")
      assert(rows(Transformer.latestTable(spark, s"$base/tables", "blocks", keys)) ===
        rows(Ledger.latest(spark.read.parquet(s"$base/tables/blocks"), keys, "insert_version")))
    } finally graft.core.Fs.deleteDir(spark, base)
  }

  test("files that disagree on schema: the file Spark's inference reads decides") {
    val base = tmp()
    try {
      val narrow = Seq((1, "x"), (2, "y")).toDF("a", "b")
      val wide = Seq((3, 0.5)).toDF("a", "c")
      writeOne(narrow, s"$base/ab", "part-0.parquet")
      writeOne(wide, s"$base/ab", "part-1.parquet")
      writeOne(wide, s"$base/ba", "part-0.parquet")
      writeOne(narrow, s"$base/ba", "part-1.parquet")
      assert(assertParity(s"$base/ab").fieldNames.toSeq === Seq("a", "b"))
      assert(assertParity(s"$base/ba").fieldNames.toSeq === Seq("a", "c"))
      // path order, not child-name order: "k=b-c/part-0.parquet" sorts
      // before "k=b/part-0.parquet" ('-' < '/') although "k=b" < "k=b-c"
      writeOne(narrow, s"$base/parted", "k=b/part-0.parquet")
      writeOne(wide, s"$base/parted", "k=b-c/part-0.parquet")
      assert(assertParity(s"$base/parted").fieldNames.toSeq === Seq("a", "c", "k"))
      // with no partition directory only the root's own files are read,
      // so a file in a plain subdirectory neither decides nor appears
      writeOne(narrow, s"$base/nested", "a/part-0.parquet")
      writeOne(wide, s"$base/nested", "b.parquet")
      assert(assertParity(s"$base/nested").fieldNames.toSeq === Seq("a", "c"))
      // a _common_metadata summary decides before any data file
      Sessions.withConf(spark, "parquet.summary.metadata.level" -> "ALL") {
        narrow.coalesce(1).write.parquet(s"$base/summary")
      }
      assert(Files.exists(Paths.get(s"$base/summary/_common_metadata")))
      writeOne(wide, s"$base/summary", "a.parquet")
      assert(assertParity(s"$base/summary").fieldNames.toSeq === Seq("a", "b"))
      // a glob names no file: open leaves it to Spark
      val glob = Tables.open(spark, s"$base/ba/*.parquet")
      assert(glob.schema === spark.read.parquet(s"$base/ba/*.parquet").schema)
      // schema merging reads every footer: open leaves it to Spark
      Sessions.withConf(spark, "spark.sql.parquet.mergeSchema" -> "true") {
        val merged = Tables.open(spark, s"$base/ab")
        assert(merged.schema === spark.read.parquet(s"$base/ab").schema)
        assert(merged.schema.fieldNames.toSeq === Seq("a", "b", "c"))
      }
    } finally graft.core.Fs.deleteDir(spark, base)
  }

  test("a footer column named like a partition column: same frame as Spark's") {
    val base = tmp()
    try {
      writeOne(Seq(("2024-01", 1L)).toDF("month", "slot"), s"$base/t", "month=2024-02/part-0.parquet")
      val opened = Tables.open(spark, s"$base/t")
      val plain = spark.read.parquet(s"$base/t")
      assert(opened.schema === plain.schema)
      assert(rows(opened) === rows(plain))
    } finally graft.core.Fs.deleteDir(spark, base)
  }

  test("a missing path and a _SUCCESS-only directory fail as spark.read.parquet does") {
    val base = tmp()
    try {
      Files.createDirectories(Paths.get(s"$base/empty"))
      Files.createFile(Paths.get(s"$base/empty/_SUCCESS"))
      Seq(s"$base/missing", s"$base/empty").foreach { p =>
        val expected = intercept[Exception](spark.read.parquet(p))
        val got = intercept[Exception](Tables.open(spark, p))
        assert(got.getClass === expected.getClass, p)
        assert(got.getMessage === expected.getMessage, p)
      }
    } finally graft.core.Fs.deleteDir(spark, base)
  }
}
