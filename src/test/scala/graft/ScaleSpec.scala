package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Paths}

/** Smoke for the scale-run harness (`graft.Scale`): the SAME code the
  * SCALE.md runs exercise, at tiny N — every registered stage with its
  * own `require` invariants, plus the parity invariants of the core runs
  * asserted directly — so no stage can bit-rot unseen. */
class ScaleSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("Scale.runValidators: daily stream + split path, split-vs-whole parity") {
    val base = Files.createTempDirectory("graft_scale_val_smoke").toString
    try {
      // 60k entries × ~370 B ≈ 22 MB — above the 8 MB split threshold, so
      // the smoke really exercises the part path (2 parts per day)
      val st = Scale.runValidators(spark, days = 2, entries = 60000, base = base)
      assert(st.validatorRows === 2L * 60000)
      assert(st.latestRows === st.validatorRows) // single version per (slot, index)
      assert(st.rawParts === 2L * 2)             // ceil(60000 / 50000) parts per day
      assert(st.maxSlot === 20211L)              // gnosis day-2 boundary (dailySlots law)
      assert(st.parityOk, "split path and whole-payload path disagree")
    } finally core.Fs.deleteDir(spark, base)
  }

  test("Scale.run: exact row parity raw -> blocks -> latest at every stage") {
    val base = Files.createTempDirectory("graft_scale_smoke").toString
    try {
      val st = Scale.run(spark, totalSlots = 2000L, chunkSize = 500L,
        waveChunks = 2, base = base, parallelism = 4)
      assert(st.chunks === 4 && st.waves === 2)
      // every 32nd slot is 404-empty by construction
      assert(st.expectedPresent === (0L until 2000L).count(_ % 32 != 31))
      assert(st.rawRows === st.expectedPresent)
      assert(st.blocksRows === st.expectedPresent)   // 1 block row per present slot
      assert(st.attRows === st.expectedPresent * 4)  // 4 attestations per block
      assert(st.latestCount === st.blocksRows)       // latest() collapses nothing (single version)
      assert(st.maxSlot === 1999L)                   // 1999 % 32 == 15 -> present
      assert(st.monthRows >= 1)
    } finally core.Fs.deleteDir(spark, base)
  }

  test("Scale.runEvents: exact session / as-of / rolling / interval invariants at tiny N") {
    val base = Files.createTempDirectory("graft_scale_events_smoke").toString
    try {
      val st = Scale.runEvents(spark, nEvents = 4000L, base = base)
      assert(st.nSessions === 20L * 4)        // 20 users × 4 sessions
      assert(st.minEvents === 50L && st.maxEvents === 50L)
      assert(st.nativeSessions === st.nSessions)
      assert(st.asofRows === 2000L && st.asofWrong === 0L)
      assert(st.maxRoll === 13L)              // 300 s cadence fills the 1-h frame
      assert(st.intervalPairs === st.expectedPairs)
      assert(st.expectedPairs === 3L * 4000 - 9)
    } finally core.Fs.deleteDir(spark, base)
  }

  test("Scale.runCurate: closed-form funnel invariants at tiny N") {
    val base = Files.createTempDirectory("graft_scale_curate_smoke").toString
    try {
      val st = Scale.runCurate(spark, nDocs = 4000L, base = base)
      assert(st.n0 === 4000L)
      assert(st.n1 === 4000L - 40)              // quality drops the 1% shorts exactly
      val livePairs = 200L - 40                 // pairs whose dup member wasn't a short
      val found = st.n1 - st.n2
      assert(found >= (livePairs * 9) / 10 && found <= livePairs,
        s"found $found of $livePairs")
      // fuzzy+exact layering: final yield exact regardless of LSH recall
      assert(st.n3 === st.n1 - livePairs)
    } finally core.Fs.deleteDir(spark, base)
  }

  test("Scale.genEmbCorpus: planted pairs near-identical, random pairs far, executor-side gen") {
    import graft.functions.GraftFunctions.vec_cosine
    val df = Scale.genEmbCorpus(spark, 200L, dim = 64).persist()
    val a = df.select(col("vec_id").as("ida"), col("embedding").as("va"))
    val b = df.select(col("vec_id").as("idb"), col("embedding").as("vb"))
    // planted (i, i+1) pairs sit above the 0.999 semdedup threshold
    val plantedCos = a.filter(col("ida") % 20 === 0)
      .join(b, col("idb") === col("ida") + 1)
      .select(vec_cosine(col("va"), col("vb")).as("c"))
      .agg(min("c")).head().getDouble(0)
    assert(plantedCos > 0.999, s"planted-pair cosine $plantedCos not near-identical")
    // non-planted neighbors are independent draws: nowhere near threshold
    val randomCos = a.filter(col("ida") % 20 === 5)
      .join(b, col("idb") === col("ida") + 1)
      .select(vec_cosine(col("va"), col("vb")).as("c"))
      .agg(max("c")).head().getDouble(0)
    assert(randomCos < 0.9, s"independent vectors suspiciously similar: $randomCos")
    df.unpersist(blocking = false)
  }

  private val broadcastKey = "spark.sql.autoBroadcastJoinThreshold"
  private var broadcastBefore: Option[String] = None

  // every registered stage at its tiny size: its require(...) invariants
  // hold, its section and JSON line render, its base dir is deleted, and
  // it leaves the shared session's confs as it found them
  Scale.stages.foreach { stage =>
    test(s"stage ${stage.name}: tiny run passes its invariants") {
      if (broadcastBefore.isEmpty) broadcastBefore = Some(spark.conf.get(broadcastKey))
      val confs = spark.conf.getAll
      val (params, _) = stage.parse(stage.tiny.split(" ").toSeq)
      val out = Scale.execute(spark, stage, params)
      assert(!Files.exists(Paths.get(out.base)), s"${out.base} left behind")
      val md = Scale.render(stage, params, 4, out)
      assert(md.startsWith(stage.header))
      assert(md.contains(s"runMain graft.Scale ${stage.name} ${params.cli}"))
      assert(md.contains(s"| peak heap | ${out.heapPeakMb} MB |"))
      assert(md.contains(s"| live heap | ${out.heapLiveMb} MB |"))
      assert(out.heapLiveMb <= out.heapPeakMb)
      val json = Scale.json(stage, out)
      assert(json.startsWith(s"""{"metric":"scale_${stage.name}","value":"""))
      assert(json.forall(c => c >= ' ' && c <= '~'), json)
      assert(spark.conf.getAll === confs)
    }
  }

  test("stages leave the shared session's broadcast threshold unchanged") {
    assert(broadcastBefore.nonEmpty)
    assert(spark.conf.get(broadcastKey) === broadcastBefore.get)
  }

  test("registry: every stage has a unique name and tiny parameters that parse") {
    assert(Scale.stages.map(_.name).distinct.size === Scale.stages.size)
    assert(Scale.stages.size === 37)
    Scale.stages.foreach(s => s.parse(s.tiny.split(" ").toSeq))
  }

  test("registry: an unknown stage name is rejected before any session is built") {
    val e = intercept[IllegalArgumentException](Scale.main(Array("pagernk", "10")))
    assert(e.getMessage.contains("unknown stage 'pagernk'"))
    Scale.stages.foreach(s => assert(e.getMessage.contains(s.name)))
    assert(!spark.sparkContext.isStopped)
  }

  test("registry: a numeric or absent first argument selects backfill") {
    assert(Scale.resolve(Seq("2000", "out.md")) === ((Scale.backfill, Seq("2000", "out.md"))))
    assert(Scale.resolve(Nil)._1 eq Scale.backfill)
    val (st, rest) = Scale.resolve(Seq("pagerank", "20", "10"))
    assert(st.name === "pagerank")
    val (p, outMd) = st.parse(rest)
    assert(p.long("nEdges") === 20L && p.long("nNodes") === 10L && outMd === "SCALE.md")
    assert(st.parse(Nil)._1.long("nEdges") === 20000000L)
    intercept[IllegalArgumentException](st.parse(Seq("x")))
    intercept[IllegalArgumentException](st.parse(Seq("1", "2", "out.md", "extra")))
  }

  test("execute deletes the base dir when the stage throws") {
    var seen = ""
    val failing = Scale.Stage("failing", "## failing", Nil, tiny = "") { (s, _, base) =>
      seen = base
      s.range(10).write.parquet(s"$base/t")
      throw new IllegalStateException("boom")
    }
    val e = intercept[IllegalStateException](Scale.execute(spark, failing, Scale.Params(Nil)))
    assert(e.getMessage === "boom")
    assert(seen.nonEmpty && !Files.exists(Paths.get(seen)))
  }

  test("spliceSection: replaces a middle section, appends an absent one, is idempotent") {
    val md = Files.createTempFile("graft_splice", ".md")
    try {
      Files.writeString(md, "# Top\n\nintro\n\n## A stage\n\nold a\n\n## B stage (x)\n\nold b\n\n## C stage\n\nc body\n")
      Scale.spliceSection(md.toString, "## B stage", "## B stage (y)\n\nnew b\n")
      assert(Files.readString(md) ===
        "# Top\n\nintro\n\n## A stage\n\nold a\n\n## B stage (y)\n\nnew b\n\n## C stage\n\nc body\n")
      Scale.spliceSection(md.toString, "## D stage", "## D stage\n\nd body\n")
      val withD = Files.readString(md)
      assert(withD.endsWith("## C stage\n\nc body\n\n## D stage\n\nd body\n"))
      Scale.spliceSection(md.toString, "## D stage", "## D stage\n\nd body\n")
      assert(Files.readString(md) === withD)
      // the top-level header splices in place too, keeping every section
      Scale.spliceSection(md.toString, "# Top", "# Top\n\nnew intro\n")
      assert(Files.readString(md) === withD.replace("intro", "new intro"))
      // a top-level section that follows a replaced one is kept too
      Files.writeString(md, "## A stage\n\nold a\n\n# Top\n\nintro\n")
      Scale.spliceSection(md.toString, "## A stage", "## A stage\n\nnew a\n")
      assert(Files.readString(md) === "## A stage\n\nnew a\n\n# Top\n\nintro\n")
    } finally Files.deleteIfExists(md)
  }

  test("SCALE.md: every runMain graft.Scale line resolves to a stage and parses") {
    val lines = Files.readAllLines(Paths.get("SCALE.md")).toArray.map(_.toString)
    val cmd = """runMain graft\.Scale([^"`]*)""".r
    val found = lines.flatMap(l => cmd.findAllMatchIn(l).map(_.group(1).trim.split("\\s+").toSeq.filter(_.nonEmpty)))
    assert(found.length >= 37, s"only ${found.length} commands in SCALE.md")
    val named = found.map { args =>
      val (stage, rest) = Scale.resolve(args)
      stage.parse(rest)
      stage.name
    }.toSet
    assert(named === Scale.stages.map(_.name).toSet)
  }
}
