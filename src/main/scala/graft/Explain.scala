package graft

/** Dev tool: dump `.explain("formatted")` for named declared queries to
  * files — the plan evidence the optimization rounds commit under
  * `plans/`. Usage:
  *   runMain graft.Explain <sfDir> <outDir> <q1,q2,...> [suffix]
  * Writes `<outDir>/<query>_<suffix>.txt` (suffix defaults to "plan").
  * Queries that run multi-action driver loops still dump the plan of
  * their RETURNED frame; internal actions execute as a side effect, as
  * in any consumer. */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val names = args(2).split(",").toSeq
    val suffix = if (args.length > 3) args(3) else "plan"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.core.Sessions.local(cpus.toInt)
    new java.io.File(outDir).mkdirs()
    names.foreach { name =>
      SparkEntry.queries.get(name) match {
        case None => System.err.println(s"[explain] unknown query: $name")
        case Some(fn) =>
          try {
            spark.catalog.clearCache()
            val df = fn(spark, sfDir)
            val plan = df.queryExecution.explainString(
              org.apache.spark.sql.execution.FormattedMode)
            java.nio.file.Files.writeString(
              java.nio.file.Paths.get(s"$outDir/${name}_$suffix.txt"), plan)
            println(s"[explain] wrote $outDir/${name}_$suffix.txt")
          } catch {
            case e: Throwable =>
              System.err.println(s"[explain] $name failed: ${e.getMessage}")
          }
      }
    }
    spark.stop()
  }
}
