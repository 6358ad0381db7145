package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** `operators`: a fixed list of `SparkEntry.queries`, each written to the
  * noop sink, over the benchmark's copy of the 0.01-scale test tables. One
  * operation is one pass over the list in its fixed order. Each query's row
  * count is checked against the count recorded for these tables.
  *
  * The seed changes nothing here: the inputs are the bundled tables, and
  * the order stays fixed because a query's time and job count depend on
  * the queries run before it. */
final class Operators(dataDir: String) extends Workload {
  import Operators._

  /** Opens each input table (a footer read per table). */
  override def open(spark: SparkSession): Unit = Tables.foreach { t =>
    require(new java.io.File(s"$dataDir/$t.parquet").exists, s"input table $t missing under $dataDir")
    spark.read.parquet(s"$dataDir/$t.parquet").schema
  }

  /** Runs one query into the noop sink and returns the rows it produced. */
  private def rowsOf(spark: SparkSession, name: String): Long = {
    val obs = org.apache.spark.sql.Observation()
    graft.SparkEntry.queries(name)(spark, dataDir)
      .observe(obs, count(lit(1)).as("n"))
      .write.format("noop").mode("overwrite").save()
    obs.get("n").asInstanceOf[Long]
  }

  /** One pass; returns the first wrong row count, if any. */
  private def pass(ctx: Ctx): Option[String] =
    Queries.iterator.map { case (name, rows) =>
      val n = ctx.span(name, "operators")(rowsOf(ctx.spark, name))
      Pipeline.mismatch(s"$name rows", n, rows)
    }.toSeq.flatten.headOption

  override def warmup(ctx: Ctx): Unit = {
    ctx.group("warmup")
    pass(ctx).foreach(e => throw new IllegalStateException(s"warm-up pass: $e"))
  }

  def step(ctx: Ctx, i: Int): Unit = {
    ctx.group(s"pass$i")
    ctx.book.run(s"operators pass $i")(pass(ctx))(identity)
  }

  def layerMetrics(ctx: Ctx, tracer: Tracer): Seq[(String, Double, String)] = {
    val jobs = tracer.jobs.groupBy(_.spanId)
    val spans = tracer.spans.filter(_.group.startsWith("pass"))
    val per = Queries.map { case (name, _) =>
      val ss = spans.filter(_.name == name)
      val gaps = ss.map(s => Trace.driverGap(s, jobs.getOrElse(s.id, Nil).map(j => (j.start, j.end))) / 1e3)
      (name, Stats.median(ss.map(_.wall / 1e3)),
        Stats.median(ss.map(s => jobs.getOrElse(s.id, Nil).size.toDouble)), Stats.median(gaps))
    }
    per.flatMap { case (name, s, jobs, gap) => Seq(
      (s"operators.$name.s", s, "s"),
      (s"operators.$name.jobs", jobs, "count"),
      (s"operators.$name.driver_gap_s", gap, "s"))
    } ++ Seq(
      ("operators.op_geomean_s", Stats.geomean(per.map(_._2)), "s"),
      ("operators.op_total_s", per.map(_._2).sum, "s"))
  }
}

object Operators {
  /** Input tables the listed queries read. */
  val Tables: Seq[String] = Seq("lineitem", "events", "documents", "embeddings")

  /** The query list, in the order a pass runs it, with the row count each
    * returns on the bundled tables. */
  val Queries: Seq[(String, Long)] = Seq(
    "a2_pricing_summary" -> 6L,
    "c3_payload_hash" -> 10000L,
    "p1_blocks" -> 3000L,
    "f2_latest_per_key" -> 150L,
    "d5_minhash_lsh" -> 24L,
    "d9_near_dup_groups" -> 500L,
    "g1_pagerank" -> 5L,
    "g3_converged_pagerank" -> 5L,
    "g9_connected_components" -> 500L,
    "s23_dbscan" -> 500L,
    "s25_graph_search" -> 5L,
    "j10_overlap_join" -> 1972L,
    "w3_event_deltas" -> 10000L,
    "t5_fingerprint" -> 500L)
}
