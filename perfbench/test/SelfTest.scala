package perfbench

import com.fasterxml.jackson.databind.ObjectMapper

/** Unit tests of the benchmark's own code: the percentile rule, span
  * arithmetic, call-site attribution and the generator's closed forms.
  * Run with `python3 perfbench/run.py --selftest`; exits 1 on any failure. */
object SelfTest {
  private var failures = 0
  private var checks = 0

  private def check(what: String, ok: Boolean, detail: => String = ""): Unit = {
    checks += 1
    if (!ok) { failures += 1; println(s"FAIL $what $detail") }
  }

  private def near(a: Double, b: Double) = math.abs(a - b) < 1e-9

  def main(args: Array[String]): Unit = {
    percentiles()
    spans()
    callSites()
    generator()
    println(s"$checks checks, $failures failed")
    sys.exit(if (failures == 0) 0 else 1)
  }

  def percentiles(): Unit = {
    check("median of 20 has 10 beyond", Stats.samplesBeyond(20, 0.5) == 10)
    check("median of 19 has 9 beyond", Stats.samplesBeyond(19, 0.5) == 9)
    // the rule agrees with counting the samples above the interpolated quantile
    for (n <- 1 to 120; q <- Seq(0.5, 0.9, 0.95)) {
      val xs = (1 to n).map(_.toDouble)
      val beyond = xs.count(_ > Stats.quantile(xs, q))
      check(s"samples beyond p${(q * 100).toInt} of $n", Stats.samplesBeyond(n, q) == beyond,
        s"${Stats.samplesBeyond(n, q)} vs $beyond")
    }
    check("median odd", near(Stats.median(Seq(3.0, 1.0, 2.0)), 2.0))
    check("median even interpolates", near(Stats.median(Seq(4.0, 1.0, 2.0, 3.0)), 2.5))
    check("quantile ends", near(Stats.quantile(Seq(5.0, 1.0), 0.0), 1.0) &&
      near(Stats.quantile(Seq(5.0, 1.0), 1.0), 5.0))
    check("geomean", near(Stats.geomean(Seq(1.0, 4.0, 16.0)), 4.0))
  }

  def spans(): Unit = {
    check("union disjoint", near(Trace.unionLength(Seq((0.0, 1.0), (2.0, 4.0))), 3.0))
    check("union overlapping", near(Trace.unionLength(Seq((0.0, 3.0), (2.0, 5.0))), 5.0))
    check("union nested", near(Trace.unionLength(Seq((0.0, 10.0), (2.0, 3.0), (4.0, 5.0))), 10.0))
    check("union unordered", near(Trace.unionLength(Seq((6.0, 7.0), (0.0, 2.0), (1.0, 3.0))), 4.0))
    check("union empty", near(Trace.unionLength(Nil), 0.0))
    val parent = Span(1, "p", "L", "g", 0, 100.0, 200.0)
    val kids = Seq(
      Span(2, "a", "L", "g", 1, 110.0, 130.0),
      Span(3, "b", "L", "g", 1, 120.0, 150.0), // overlaps a: covered 110–150
      Span(4, "c", "L", "g", 1, 190.0, 230.0)) // runs past the parent's end
    check("self time", near(Trace.selfTime(parent, kids), 100.0 - 40.0 - 10.0),
      s"${Trace.selfTime(parent, kids)}")
    check("self time without children", near(Trace.selfTime(parent, Nil), 100.0))
    val jobs = Seq((105.0, 115.0), (110.0, 125.0), (150.0, 160.0), (50.0, 101.0))
    check("driver gap", near(Trace.driverGap(parent, jobs), 100.0 - 20.0 - 10.0 - 1.0),
      s"${Trace.driverGap(parent, jobs)}")
    check("driver gap without jobs", near(Trace.driverGap(parent, Nil), 100.0))
    check("envelope", near(Trace.envelope(Seq((3.0, 4.0), (1.0, 2.0))), 3.0))
  }

  private def long(frames: String*): String = frames.mkString("\n")

  def callSites(): Unit = {
    check("short call site names its file",
      Trace.moduleOf("parquet at Transformer.scala:120", null) == "Transformer")
    check("ledger append inside ingest", Trace.moduleOf("parquet at Ledger.scala:240", long(
      "org.apache.spark.sql.DataFrameWriter.parquet(DataFrameWriter.scala:1)",
      "graft.beacon.LedgerStore.append(Ledger.scala:240)",
      "graft.beacon.RawIngest$.ingestChunksFused(RawIngest.scala:260)")) == "Ledger")
    check("first program frame wins", Trace.moduleOf("collect at Transformer.scala:355", long(
      "org.apache.spark.sql.Dataset.collect(Dataset.scala:1)",
      "graft.beacon.Transformer$.transformChunksFused(Transformer.scala:355)",
      "perfbench.Backfill.cycle(Backfill.scala:60)")) == "Transformer")
    check("operator library is one module", Trace.moduleOf("count at DriverRank.scala:80", long(
      "org.apache.spark.sql.Dataset.count(Dataset.scala:1)",
      "graft.operators.DriverRank$.rank(DriverRank.scala:80)",
      "graft.queries.Inventory$.g1(Inventory.scala:1911)")) == "operators")
    check("query inventory is the operator module",
      Trace.moduleOf("count at LlmInventory.scala:70", null) == "operators")
    check("benchmark frames name the benchmark file", Trace.moduleOf("count at Backfill.scala:70", long(
      "org.apache.spark.sql.Dataset.count(Dataset.scala:1)",
      "perfbench.Backfill.cycle(Backfill.scala:70)")) == "Backfill")
    check("no program frame is unknown", Trace.moduleOf(
      "$anonfun$withThreadLocalCaptured$2 at CompletableFuture.java:1768", null) == "unknown")
  }

  def generator(): Unit = {
    val mapper = new ObjectMapper()
    val gen = ChainGen(7L)
    val lo = ChainGen.BaseSlot
    val hi = lo + 199
    var blocks, att, wd, tx, blobs, amount = 0L
    (lo to hi).foreach { s =>
      gen.fetch(s).foreach { p =>
        val body = mapper.readTree(p).path("data").path("message").path("body")
        blocks += 1
        att += body.path("attestations").size
        wd += body.path("execution_payload").path("withdrawals").size
        tx += body.path("execution_payload").path("transactions").size
        blobs += body.path("blob_kzg_commitments").size
        val it = body.path("execution_payload").path("withdrawals").elements()
        while (it.hasNext) amount += it.next().path("amount").asText.toLong
      }
    }
    val e = gen.expected(lo, hi)
    check("blocks closed form", e.blocks == blocks, s"${e.blocks} vs $blocks")
    check("attestations closed form", e.attestations == att, s"${e.attestations} vs $att")
    check("withdrawals closed form", e.withdrawals == wd, s"${e.withdrawals} vs $wd")
    check("transactions closed form", e.transactions == tx, s"${e.transactions} vs $tx")
    check("blob commitments closed form", e.blobCommitments == blobs, s"${e.blobCommitments} vs $blobs")
    check("withdrawal amount closed form", e.withdrawalAmount == amount, s"${e.withdrawalAmount} vs $amount")
    check("all-table rows", e.allTables == 3 * blocks + att + wd + tx + blobs)

    val empty = (lo until lo + 32000).count(gen.isEmpty)
    check("about 1/32 of slots empty", empty > 800 && empty < 1200, s"$empty of 32000")
    check("same seed, same payload", ChainGen(7L).fetch(lo + 1) == gen.fetch(lo + 1))
    check("other seed, other chain", (lo to hi).exists(s => ChainGen(8L).fetch(s) != gen.fetch(s)))

    val re = gen.copy(refetch = true)
    val refetched = (lo to hi).filter(gen.isRefetched)
    check("a share of slots is re-fetched", refetched.nonEmpty && refetched.size < 60, s"${refetched.size}")
    refetched.headOption.foreach { s =>
      val a = gen.fetch(s).get
      val b = re.fetch(s).get
      check("re-fetch changes the payload hash",
        graft.functions.CanonicalJson.payloadHash16(a) != graft.functions.CanonicalJson.payloadHash16(b))
      val body = mapper.readTree(b).path("data").path("message").path("body")
      check("re-fetch carries the marker graffiti", body.path("graffiti").asText == ChainGen.RefetchGraffiti)
      check("re-fetch keeps the row counts",
        mapper.readTree(a).path("data").path("message").path("body").path("attestations").size ==
          body.path("attestations").size)
    }
    val plain = (lo to hi).filterNot(gen.isRefetched).filterNot(gen.isEmpty).head
    check("other slots are served unchanged", re.fetch(plain) == gen.fetch(plain))
    val er = re.expected(lo, hi)
    check("re-fetch amounts closed form",
      er.withdrawalAmount == e.withdrawalAmount + ChainGen.RefetchAmountBump *
        refetched.map(s => gen.withdrawals(s).toLong).sum)
    check("sync bits popcount", ChainGen.syncBits(389).grouped(2)
      .map(h => Integer.bitCount(Integer.parseInt(h, 16))).sum == 389)
  }
}
