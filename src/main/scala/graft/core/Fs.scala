package graft.core

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Filesystem probes through the Hadoop FileSystem API — java.io.File only
  * sees the local disk, which would make ledgers/catalogs on hdfs:// or
  * s3a:// read as empty (silently re-ingesting the world). Every path
  * check in the engine goes through here.
  */
object Fs {
  private def fs(spark: SparkSession, path: String) = {
    val p = new Path(path)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  def exists(spark: SparkSession, path: String): Boolean = {
    val (f, p) = fs(spark, path)
    f.exists(p)
  }

  /** Recursive delete of a directory (month-partition cleanup). */
  def deleteDir(spark: SparkSession, path: String): Boolean = {
    val (f, p) = fs(spark, path)
    f.exists(p) && f.delete(p, true)
  }

  /** Immediate child directory names. */
  def listDirNames(spark: SparkSession, path: String): Seq[String] = {
    val (f, p) = fs(spark, path)
    if (!f.exists(p)) Seq.empty
    else f.listStatus(p).filter(_.isDirectory).map(_.getPath.getName).toSeq
  }

  /** Does the tree under `path` contain any parquet data file? (An
    * all-empty-table write leaves only _SUCCESS.) */
  def hasParquetFiles(spark: SparkSession, path: String): Boolean = {
    var found = false
    walkDataFiles(spark, path) { _ => found = true; false }
    found
  }

  /** (count, total bytes) of committed parquet data files under `path` —
    * the compaction planner's small-file probe. */
  def dataFileStats(spark: SparkSession, path: String): (Int, Long) = {
    var n = 0
    var bytes = 0L
    walkDataFiles(spark, path) { st => n += 1; bytes += st.getLen; true }
    (n, bytes)
  }

  /** Walk committed parquet data files under `path`, invoking `visit` per
    * file until it returns false. Skips uncommitted staging output
    * (_temporary, .spark-staging-*): like Spark's own file index it never
    * enters a '_'/'.'-prefixed entry BELOW the root, whatever the root's
    * own name or its ancestors'. Lists with `listStatus`, whose statuses
    * carry no permissions: `listFiles`' located statuses read each one,
    * which Hadoop's raw local filesystem does by forking `ls -ld`. */
  private def walkDataFiles(spark: SparkSession, path: String)(
      visit: org.apache.hadoop.fs.FileStatus => Boolean): Unit = {
    val (f, p) = fs(spark, path)
    val root =
      try f.getFileStatus(p)
      catch { case _: java.io.FileNotFoundException => return }
    def hidden(name: String) = name.startsWith("_") || name.startsWith(".")
    // depth-first; false once `visit` asks to stop
    def walk(st: org.apache.hadoop.fs.FileStatus): Boolean = {
      val name = st.getPath.getName
      if (st.isDirectory)
        f.listStatus(st.getPath).iterator.filterNot(c => hidden(c.getPath.getName)).forall(walk)
      else !name.endsWith(".parquet") || name.startsWith(".") || visit(st)
    }
    walk(root)
  }

  /** Rename `src` → `dst`, creating dst's parent first (HDFS rename does
    * not mkdir). A same-filesystem directory rename is the one atomic
    * primitive parquet storage offers — the compaction swap is built on
    * it. Returns false if src is missing or the filesystem refuses. */
  def rename(spark: SparkSession, src: String, dst: String): Boolean = {
    val (f, s) = fs(spark, src)
    val d = new Path(dst)
    if (!f.exists(s)) return false
    val parent = d.getParent
    if (parent != null && !f.exists(parent)) f.mkdirs(parent)
    f.rename(s, d)
  }
}
