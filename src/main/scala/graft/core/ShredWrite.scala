package graft.core

import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.hadoop.mapreduce.{Job, JobID, TaskAttemptID, TaskID, TaskType}
import org.apache.spark.TaskContext
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsWrite, Table, TableCapability, Column => V2Column}
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.datasources.{OutputWriter, OutputWriterFactory}
import org.apache.spark.sql.types.{ArrayType, StructType}
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

import scala.collection.mutable

/** Many month-partitioned Parquet tables written by ONE DataSource V2
  * batch write from one shredded frame (Dremel-style record shredding).
  *
  * The input has a long `slot`, a string `month` and one
  * `array<struct>` column per table, named after it: the rows of that
  * table for the input row. Each task sends every element to a Parquet
  * writer for its (table, month), made by Spark's own Parquet
  * `OutputWriterFactory` for that table's schema. Rows reach a writer in
  * input order, so a caller that sorts its partitions by slot gets files
  * in slot order, and a file rolls over after `maxRecordsPerFile(table)`
  * rows (never, for 0 or less, as in Spark's own writer). Tasks write under a stage directory `<outDir>/_shred-<id>`; a
  * task's commit message lists its files and counts the rows it wrote
  * per table and per range of `ranges` (sorted by start; see
  * [[RangeCounts]]).
  *
  * On the driver, `commit` moves every staged file to
  * `<outDir>/<table>/month=<m>/` and writes each table's `_SUCCESS` —
  * also for a table that got no rows — so each table directory ends as a
  * Spark append leaves it. `abort` deletes the stage (and any file a
  * failed commit had already moved), so a failed write leaves no file of
  * any table visible. Run it with [[org.apache.spark.sql.graft.Bridge.appendV2]];
  * [[result]] then holds the counts.
  */
final class ShredWrite(
    spark: SparkSession, outDir: String, maxRecordsPerFile: String => Long,
    ranges: IndexedSeq[(Long, Long)]) extends Table with SupportsWrite {
  import ShredWrite._

  private val writeId = java.util.UUID.randomUUID().toString
  private val stage = s"$outDir/_shred-$writeId"
  @volatile private var committed: Result = _

  /** The counts of the committed write. */
  def result: Result = Option(committed).getOrElse(
    throw new IllegalStateException(s"write $writeId to $outDir was not committed"))

  override def name(): String = s"shred:$outDir"
  override def columns(): Array[V2Column] = Array.empty
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_WRITE, TableCapability.ACCEPT_ANY_SCHEMA)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = new WriteBuilder {
    override def build(): Write = new Write {
      override def toBatch: BatchWrite = new Batch(info.schema())
    }
  }

  private final class Batch(schema: StructType) extends BatchWrite {
    private val tables: Seq[(String, StructType)] = schema.fields.toSeq
      .filterNot(f => f.name == "slot" || f.name == "month")
      .map { f =>
        f.dataType match {
          case ArrayType(st: StructType, _) => f.name -> st
          case other => throw new IllegalArgumentException(
            s"shred column ${f.name} must be array<struct>, not ${other.simpleString}")
        }
      }

    override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = {
      val specs = tables.map { case (t, st) =>
        val job = Job.getInstance(org.apache.spark.sql.graft.Bridge.newHadoopConf(spark))
        val factory = new ParquetFileFormat().prepareWrite(spark, job, Map.empty, st)
        TableSpec(t, schema.fieldIndex(t), st, factory,
          new SerializableConfiguration(job.getConfiguration), maxRecordsPerFile(t))
      }
      WriterFactory(stage, writeId, schema.fieldIndex("slot"), schema.fieldIndex("month"),
        specs.toArray, new RangeCounts(ranges))
    }

    private lazy val fs = new Path(outDir).getFileSystem(spark.sparkContext.hadoopConfiguration)

    private def target(f: StagedFile) = new Path(s"$outDir/${f.path}")

    override def commit(messages: Array[WriterCommitMessage]): Unit = {
      val commits = messages.map(_.asInstanceOf[TaskCommit])
      val dirs = mutable.Set.empty[Path]
      def mkdirs(p: Path): Unit = if (dirs.add(p)) fs.mkdirs(p)
      for (c <- commits; f <- c.files) {
        val dst = target(f)
        mkdirs(dst.getParent)
        val src = new Path(s"${c.taskDir}/${f.path}")
        if (!fs.rename(src, dst)) throw new java.io.IOException(s"could not move $src to $dst")
      }
      tables.foreach { case (t, _) =>
        val dir = new Path(s"$outDir/$t")
        mkdirs(dir)
        fs.create(new Path(dir, "_SUCCESS"), true).close()
      }
      fs.delete(new Path(stage), true)
      val counts = new RangeCounts(ranges)
      committed = Result(
        tables.indices.map(i => tables(i)._1 -> commits.map(_.tableRows(i)).sum).toMap,
        commits.map(_.rangeRows).foldLeft(counts.zero)(counts.merge))
    }

    override def abort(messages: Array[WriterCommitMessage]): Unit = {
      // a commit that failed part way has moved some files already
      for (m <- Option(messages).toSeq.flatten; c <- Option(m).collect { case c: TaskCommit => c };
           f <- c.files)
        fs.delete(target(f), false)
      fs.delete(new Path(stage), true)
    }
  }
}

object ShredWrite {
  /** Rows written per table and per range. */
  final case class Result(tableRows: Map[String, Long], rangeRows: Array[Long]) {
    def rows: Long = tableRows.values.sum
  }

  private[core] final case class StagedFile(table: String, month: String, name: String) {
    /** Where the file lives under the task's stage directory, and under
      * the output directory once committed. */
    def path: String = s"$table/month=$month/$name"
  }

  private[core] final case class TaskCommit(
      taskDir: String, files: Array[StagedFile], tableRows: Array[Long],
      rangeRows: Array[Long]) extends WriterCommitMessage

  private[core] final case class TableSpec(
      name: String, ordinal: Int, schema: StructType, factory: OutputWriterFactory,
      conf: SerializableConfiguration, maxRecordsPerFile: Long)

  private[core] final case class WriterFactory(
      stage: String, writeId: String, slotOrdinal: Int, monthOrdinal: Int,
      tables: Array[TableSpec], counts: RangeCounts) extends DataWriterFactory {
    override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
      new ShredDataWriter(this, partitionId, taskId)
  }

  /** One task's writers: at most one open file per table, replaced when
    * the month changes or the file is full. */
  private final class ShredDataWriter(f: WriterFactory, partitionId: Int, taskId: Long)
      extends DataWriter[InternalRow] {
    private val taskDir = s"${f.stage}/$taskId"
    private val n = f.tables.length
    private val contexts = {
      val tc = Option(TaskContext.get())
      val attempt = new TaskAttemptID(
        new TaskID(new JobID(f.writeId, tc.map(_.stageId()).getOrElse(0)), TaskType.MAP, partitionId),
        tc.map(_.attemptNumber()).getOrElse(0))
      f.tables.map(t => new TaskAttemptContextImpl(t.conf.value, attempt))
    }
    private val writers = new Array[OutputWriter](n)
    private val open = new Array[StagedFile](n)
    private val months = new Array[UTF8String](n)
    private val fileRows = new Array[Long](n)
    private val fileCount = new Array[Int](n)
    private val staged = mutable.ArrayBuffer.empty[StagedFile]
    private val tableRows = new Array[Long](n)
    private val rangeRows = f.counts.zero

    override def write(row: InternalRow): Unit = {
      val month = row.getUTF8String(f.monthOrdinal)
      var rows = 0L
      var t = 0
      while (t < n) {
        val spec = f.tables(t)
        if (!row.isNullAt(spec.ordinal)) {
          val list = row.getArray(spec.ordinal)
          val k = list.numElements()
          var i = 0
          while (i < k) {
            writerFor(t, month).write(list.getStruct(i, spec.schema.length))
            fileRows(t) += 1
            i += 1
          }
          tableRows(t) += k
          rows += k
        }
        t += 1
      }
      if (rows > 0 && !row.isNullAt(f.slotOrdinal))
        f.counts.add(rangeRows, row.getLong(f.slotOrdinal), rows)
    }

    private def writerFor(t: Int, month: UTF8String): OutputWriter = {
      val max = f.tables(t).maxRecordsPerFile
      if (writers(t) != null && (months(t) != month || (max > 0 && fileRows(t) >= max)))
        closeFile(t)
      if (writers(t) == null) {
        val spec = f.tables(t)
        val m = month.toString
        val name = s"part-${"%05d".format(partitionId)}-${f.writeId}.c${"%03d".format(fileCount(t))}" +
          spec.factory.getFileExtension(contexts(t))
        open(t) = StagedFile(spec.name, m, name)
        writers(t) = spec.factory.newInstance(s"$taskDir/${open(t).path}", spec.schema, contexts(t))
        months(t) = month.clone()
        fileCount(t) += 1
        fileRows(t) = 0
      }
      writers(t)
    }

    private def closeFile(t: Int): Unit = {
      val w = writers(t)
      writers(t) = null
      w.close()
      staged += open(t)
    }

    override def commit(): WriterCommitMessage = {
      (0 until n).foreach(t => if (writers(t) != null) closeFile(t))
      TaskCommit(taskDir, staged.toArray, tableRows, rangeRows)
    }

    override def abort(): Unit = {
      (0 until n).foreach { t =>
        if (writers(t) != null)
          try writers(t).close()
          catch { case scala.util.control.NonFatal(_) => }
          finally writers(t) = null
      }
      val dir = new Path(taskDir)
      dir.getFileSystem(contexts(0).getConfiguration).delete(dir, true)
    }

    override def close(): Unit = ()
  }
}
