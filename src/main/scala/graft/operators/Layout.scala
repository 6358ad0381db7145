package graft.operators

import graft.core.Tables
import graft.functions.GraftFunctions.morton_interleave
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Z-order (Morton-clustered) file layout — the data-skipping story for a
  * 100 TB at-rest corpus. Parquet scans prune files/row-groups from
  * min-max column statistics, but a layout sorted on ONE column gives the
  * OTHER frequent filter column no pruning power: every file spans its
  * full range. Interleaving the bits of both columns' normalized ranks
  * into one clustering key makes each file a small rectangle in (a, b)
  * space, so min-max stats prune on EITHER predicate.
  *
  * Shape notes for scale:
  *  - one `agg(min, max)` pass bounds the coordinates (cheap, columnar);
  *    the key itself is a codegen'd per-row expression
  *    ([[graft.functions.MortonInterleave]]), no shuffle added beyond the
  *    `repartitionByRange` the clustered write needs anyway (which any
  *    sorted layout pays)
  *  - min-max normalization is the v1 quantizer; a heavily skewed column
  *    wants its rank histogram instead (the `Sampling.scoreBuckets`
  *    machinery) — same key construction downstream
  *  - files are rectangles, so worst-case pruning is the box PERIMETER,
  *    not its area — still strictly better than a linear layout's
  *    nothing on the second column
  */
object Layout {

  /** The Morton clustering key for two numeric columns, each min-max
    * normalized to `bits`-bit grid cells. `aMin`/`aMax`/`bMin`/`bMax` are
    * plan-bound constants from a prior agg (constant ranges keep the key
    * a pure per-row projection). */
  def zKey(
      a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column,
      aMin: Double, aMax: Double, bMin: Double, bMax: Double,
      bits: Int = 16): org.apache.spark.sql.Column = {
    require(bits >= 1 && bits <= 31, s"bits must be in [1,31], got $bits")
    val cells = (1L << bits) - 1
    def q(c: org.apache.spark.sql.Column, mn: Double, mx: Double) =
      if (mx <= mn) lit(0L)
      else least(lit(cells), greatest(lit(0L),
        floor((c.cast("double") - mn) / (mx - mn) * cells).cast("long")))
    morton_interleave(q(a, aMin, aMax), q(b, bMin, bMax))
  }

  /** Write `df` as `nFiles` parquet files clustered on the Z-order key of
    * (`aCol`, `bCol`): range-partition on the key (equal-depth file
    * boundaries via Spark's range sampler), sort within each file, drop
    * the key. One extra column-bounds agg + the same single exchange any
    * clustered write costs. */
  def writeZOrdered(
      df: DataFrame, aCol: String, bCol: String, dir: String,
      nFiles: Int, bits: Int = 16): Unit = {
    val r = df.agg(
      min(col(aCol).cast("double")), max(col(aCol).cast("double")),
      min(col(bCol).cast("double")), max(col(bCol).cast("double"))).head()
    require(!r.isNullAt(0), "cannot z-order an empty frame")
    val keyed = df.withColumn("__z",
      zKey(col(aCol), col(bCol), r.getDouble(0), r.getDouble(1),
        r.getDouble(2), r.getDouble(3), bits))
    keyed
      .repartitionByRange(nFiles, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
      .write.mode("overwrite").parquet(dir)
  }

  /** Per-file min-max stats for two columns — what a stats-pruning scan
    * sees. (Diagnostic for tests/demos; production pruning happens inside
    * the parquet reader from the same numbers.) */
  def fileStats(
      spark: SparkSession, dir: String, aCol: String, bCol: String): DataFrame =
    Tables.open(spark, dir)
      .groupBy(input_file_name().as("file"))
      .agg(
        min(aCol).as("a_min"), max(aCol).as("a_max"),
        min(bCol).as("b_min"), max(bCol).as("b_max"))

  /** How many files a min-max pruner must read for `lo <= col <= hi` on
    * one of the two stat columns. */
  def filesOverlapping(
      stats: DataFrame, which: String, lo: Double, hi: Double): Long =
    stats.filter(
      col(s"${which}_min").cast("double") <= hi &&
        col(s"${which}_max").cast("double") >= lo).count()

  /** Bucketed at-rest layout — the SHUFFLE-FREE JOIN story for tables
    * that join on the same key every day (fact↔fact reconciliation,
    * ledger↔raw integrity checks): `bucketBy(n, key)` hash-partitions
    * rows into `n` files per write and records the bucket spec in the
    * catalog, so a join of two tables bucketed the same way reads
    * co-located buckets directly — NO Exchange on either side, at any
    * data size (the LayoutSpec gate asserts the plan). `sortBy` inside
    * each bucket additionally drops the in-partition sort from
    * sort-merge joins. Registered as an EXTERNAL table at `path`
    * (bucketing metadata must live in a catalog; plain
    * `.parquet(dir)` files cannot carry it). At 100 TB this is the
    * difference between re-shuffling both fact tables per query and
    * reading them joined in place — the same trade the reference's
    * ClickHouse `ORDER BY` co-location makes. */
  def writeBucketed(
      df: DataFrame, table: String, path: String, key: String,
      buckets: Int): Unit =
    df.write.mode("overwrite")
      .option("path", path)
      .bucketBy(buckets, key)
      .sortBy(key)
      .format("parquet")
      .saveAsTable(table)

  /** Hive-style DATE-PARTITIONED at-rest layout — the other half of the
    * 100 TB story next to [[writeBucketed]]: facts land under
    * `.../(partCol)=v/` directories, and any query filtering on the
    * partition column prunes whole directories at PLANNING time
    * (`PartitionFilters` in the scan — zero I/O for skipped days, not
    * even footer reads, where Z-order still opens min/max stats). The
    * canonical beacon layout: raw/structured tables partitioned by
    * slot-day, queries sliced by date ranges. */
  def writeDayPartitioned(
      df: DataFrame, dir: String, partCol: String): Unit =
    df.write.mode("overwrite").partitionBy(partCol).parquet(dir)
}
