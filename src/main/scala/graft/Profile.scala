package graft
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}

/** Dev tool: per-JOB wall breakdown of a declared query — the local
  * substitute for the Spark UI's job table (UI is disabled in the
  * harness). Usage:
  *   runMain graft.Profile <sfDir> <q1,q2,...> [repeat]
  * Runs each query once untimed (warmup: plan compile + JIT + page
  * cache), then `repeat` (default 1) timed runs through the noop sink,
  * printing every job's (id, duration, #stages, #tasks, callsite) plus
  * the total, so multi-action operators show where their wall goes. */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = args(1).split(",").toSeq
    val repeat = if (args.length > 2) args(2).toInt else 1
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.core.Sessions.local(cpus.toInt)
    spark.read.parquet(s"$sfDir/lineitem.parquet").limit(1000).count()

    case class JobRec(id: Int, var start: Long = 0L, var end: Long = 0L,
        var desc: String = "", var nStages: Int = 0, var nTasks: Int = 0)
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
    @volatile var recording = false
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = if (recording) {
        val r = JobRec(js.jobId, js.time)
        r.desc = Option(js.properties)
          .flatMap(p => Option(p.getProperty("callSite.short")))
          .filter(_.nonEmpty)
          .orElse(js.stageInfos.lastOption.map(_.name.takeWhile(_ != '\n')))
          .getOrElse("")
        r.nStages = js.stageInfos.size
        r.nTasks = js.stageInfos.map(_.numTasks).sum
        jobs.put(js.jobId, r)
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = if (recording) {
        Option(jobs.get(je.jobId)).foreach(_.end = je.time)
      }
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = ()
    })

    names.foreach { name =>
      SparkEntry.queries.get(name) match {
        case None => System.err.println(s"[profile] unknown query: $name")
        case Some(fn) =>
          spark.catalog.clearCache()
          fn(spark, sfDir).write.format("noop").mode("overwrite").save() // warmup
          (1 to repeat).foreach { r =>
            spark.catalog.clearCache()
            jobs.clear()
            recording = true
            val t0 = System.nanoTime()
            fn(spark, sfDir).write.format("noop").mode("overwrite").save()
            val wall = (System.nanoTime() - t0) / 1e9
            recording = false
            // listener events are async; give the bus a moment to drain
            Thread.sleep(300)
            import scala.jdk.CollectionConverters._
            val recs = jobs.values().asScala.toSeq.sortBy(_.id)
            val jsum = recs.map(j => (j.end - j.start) / 1e3).sum
            println(f"== $name run $r wall=$wall%.3f s jobs=${recs.size} jobsum=$jsum%.3f s (gap=${wall - jsum}%.3f s driver/plan)")
            recs.foreach { j =>
              println(f"   job ${j.id}%4d  ${(j.end - j.start) / 1e3}%8.3f s  stages=${j.nStages}%2d tasks=${j.nTasks}%4d  ${j.desc.take(70)}")
            }
          }
      }
    }
    spark.stop()
  }
}
