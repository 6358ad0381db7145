package graft

import graft.core.Fs
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Paths}

class FsSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark

  /** The `listFiles` walk `Fs` used before: every file under the root,
    * kept when no path component below the root is '_'/'.'-prefixed and
    * the name is a non-hidden `.parquet`. */
  private def listFilesWalk(path: String): (Boolean, (Int, Long)) = {
    val p = new Path(path)
    val f = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!f.exists(p)) return (false, (0, 0L))
    val root = f.makeQualified(p)
    val it = f.listFiles(root, true)
    var n = 0
    var bytes = 0L
    while (it.hasNext) {
      val st = it.next()
      val fp = st.getPath
      val committed = Iterator.iterate(fp)(_.getParent)
        .takeWhile(q => q != null && q != root)
        .forall(q => !q.getName.startsWith("_") && !q.getName.startsWith("."))
      if (committed && fp.getName.endsWith(".parquet") && !fp.getName.startsWith(".")) {
        n += 1
        bytes += st.getLen
      }
    }
    (n > 0, (n, bytes))
  }

  test("hasParquetFiles/dataFileStats answer as the listFiles walk did, staging and hidden entries skipped") {
    val base = Files.createTempDirectory("graft_fs")
    // the table root sits below a '_'-prefixed ancestor
    val root = base.resolve("_archive/raw_blocks")
    def file(rel: String, bytes: Int): Unit = {
      val f = root.resolve(rel)
      Files.createDirectories(f.getParent)
      Files.write(f, Array.fill[Byte](bytes)(1))
    }
    file("_SUCCESS", 0)
    file("month=2024-01/part-00000.parquet", 100)
    file("month=2024-01/.part-00000.parquet.crc", 12)
    file("month=2024-01/part-00001.parquet", 250)
    file("month=2024-01/notes.txt", 7)
    file("month=2024-02/_hidden.parquet", 40)
    file("month=2024-02/.dot.parquet", 40)
    file("_temporary/0/_temporary/attempt_1/month=2024-03/part-00009.parquet", 999)
    file(".spark-staging-42/month=2024-03/part-00010.parquet", 999)
    file("month=2024-04/_temporary/part-00011.parquet", 999)
    file("month=2024-05/sub/part-00012.parquet", 30)
    Files.createDirectories(root.resolve("month=2024-06"))
    file("../raw_staging_only/_temporary/0/part-00013.parquet", 5)
    try {
      val paths = Seq("", "/month=2024-01", "/month=2024-02", "/month=2024-04", "/month=2024-05",
        "/month=2024-06", "/_temporary", "/month=2024-01/part-00001.parquet", "/missing",
        "/../raw_staging_only").map(root.toString + _)
      paths.foreach { p =>
        val (has, stats) = listFilesWalk(p)
        assert(Fs.hasParquetFiles(spark, p) === has, p)
        assert(Fs.dataFileStats(spark, p) === stats, p)
      }
      assert(Fs.dataFileStats(spark, root.toString) === (3, 380L))
      assert(!Fs.hasParquetFiles(spark, root.resolve("../raw_staging_only").toString))
    } finally Fs.deleteDir(spark, base.toString)
  }
}
