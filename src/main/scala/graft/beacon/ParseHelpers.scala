package graft.beacon

import graft.functions.GraftFunctions.{bound_long, safe_long}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** The null-default and meta-column contract shared by every parser
  * (BlockParser's 14 tables + StateParsers' 7): one definition so the
  * engine-wide defaults and the `slot_timestamp`/`insert_version` shape
  * cannot drift between the two files.
  */
private[beacon] object ParseHelpers {

  /** safe_str: null → "" (reference: fork_base.py:224-230). */
  def s(c: Column): Column = coalesce(c, lit(""))

  /** safe_int with default 0 (hex-aware, UInt64-clamped). */
  def l(c: Column): Column = coalesce(safe_long(c), lit(0L))

  /** Every structured table carries the derived slot timestamp and the
    * merge-on-read version column. The version is a per-call value, so it
    * stays out of the generated source: every call shares one compiled
    * class per table. */
  def withMeta(df: DataFrame, cfg: ChainConfig, insertVersion: Long): DataFrame =
    df.withColumn("slot_timestamp", cfg.slotTimestamp(col("slot")))
      .withColumn("insert_version", bound_long(insertVersion))
}
