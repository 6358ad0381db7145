package graft.beacon

import graft.core.Tables
import org.apache.spark.sql.SparkSession

/** SQL catalog surface: registers every materialized structured table as a
  * temp view, plus a `<table>_latest` FINAL view (window-collapsed to the
  * max insert_version per natural key) — the engine-wide equivalent of
  * ClickHouse `FROM table FINAL` (SURVEY §1.1).
  */
object BeaconCatalog {

  /** Register raw + structured views for every table present in `outDir`.
    * Returns the registered view names. */
  def registerViews(spark: SparkSession, outDir: String): Seq[String] = {
    val present = graft.core.Fs.listDirNames(spark, outDir)
      // an all-empty-table write leaves only _SUCCESS — nothing to register
      .filter(name => graft.core.Fs.hasParquetFiles(spark, s"$outDir/$name"))
      .filter(Transformer.tableKeys.contains)
      .sorted
    val slotViews = present.flatMap { table =>
      val df = Tables.open(spark, s"$outDir/$table")
      df.createOrReplaceTempView(table)
      val latestName = s"${table}_latest"
      Transformer
        .latestTable(spark, outDir, table, Transformer.tableKeys(table))
        .createOrReplaceTempView(latestName)
      Seq(table, latestName)
    }.toSeq
    // foundation tables (genesis / specs / time_helpers) are 1-row or k/v
    // config frames with no insert_version — plain views, no _latest
    val foundationViews = Seq("genesis", "specs", "time_helpers")
      .filter(name => graft.core.Fs.hasParquetFiles(spark, s"$outDir/$name"))
      .map { t =>
        Tables.open(spark, s"$outDir/$t").createOrReplaceTempView(t)
        t
      }
    slotViews ++ foundationViews
  }
}
