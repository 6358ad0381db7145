package graft

/** Replicates the driver's T1 smoke: a PLAIN session (none of our configs)
  * calling SparkEntry.entry — guards against entry() depending on
  * session-level settings like nanosAsLong. */
object EntrySmoke {
  def main(args: Array[String]): Unit = {
    val spark = graft.core.Sessions.plain(4)
    val n = SparkEntry.entry(spark).count()
    println(s"[entry-smoke] rows=$n")
    require(n > 0, "entry must return rows")
    spark.stop()
  }
}
