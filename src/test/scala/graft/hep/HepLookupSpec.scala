package graft.hep

import java.nio.file.{Files, Paths}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.scheduler.graftaccess.Jobs
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import Schemas._

/** The driver-side point lookup ([[HepLookup]]): same rows as a plain
  * parquet read, no Spark job, the ordinary scan past its reach.
  */
class HepLookupSpec extends AnyFunSuite with BeforeAndAfterAll
    with AdaptiveSparkPlanHelper {

  lazy val spark: SparkSession = graft.EngineSession.local("4")
  lazy val root: java.nio.file.Path =
    Files.createTempDirectory(java.nio.file.Paths.get("target"), "heplookup")
  val Procs = Seq("ttbar", "wjets")
  val NumEvts = 12
  val PerChunk = 5

  /** 2 processes x 12 events at 5 events per chunk: chunks of 5, 5, 2. */
  lazy val store: String = {
    val d = root.resolve("store").toString
    val w = new HepWriter(spark, d, evtsPerChunk = PerChunk)
    for (name <- Procs) {
      val p = w.newProcess(name)
      for (e <- 0 until NumEvts) {
        val b = p.newEvent()
        val n = 3 + (e + name.length) % 4
        val rnd = new scala.util.Random(e * 31L + name.length)
        b.setPmu(Array.fill(n)(Pmu(rnd.nextDouble(), rnd.nextDouble(), rnd.nextDouble(), 1.0)))
          .setPdg(Array.tabulate(n)(i => 11 + i + e))
          .setStatus(Array.tabulate(n)(i => (i % 3).toShort))
          .setHelicity(Array.tabulate(n)(i => (i % 2).toShort))
          .setColor(Array.tabulate(n)(i => ColorPair(i, e)))
          .setMask("final", Array.tabulate(n)(i => (i + e) % 2 == 0))
          .setMask("signal", Array.tabulate(n)(_ < 2))
        b.setEdges(Array.tabulate(n - 1)(i => (i, i + 1)))
        b.setEdgeWeights(Array.tabulate(n - 1)(_ * 0.5 + e))
        b.setCustom("wgt", Array.fill(n)(rnd.nextDouble()))
        b.setCustom("hits", Array.tabulate(2)(i => e.toLong << (30 + i)))
        b.setCustom2d("cov", Array(Array(e.toDouble), Array(1.0, 2.0)))
        b.setCustomMeta("note", s"$name-$e")
        p.commitEvent(b)
      }
    }
    w.close()
    d
  }

  override def afterAll(): Unit = spark.stop()

  private def jobs(): Int = Jobs.submitted(spark.sparkContext)

  private def sorted(rows: Array[Row]): Seq[String] = rows.map(_.toString).toSeq.sorted

  private def lookups(plan: SparkPlan): Seq[HepLookupExec] =
    collect(plan) { case l: HepLookupExec => l }

  private def scans(plan: SparkPlan): Seq[FileSourceScanExec] =
    collect(plan) { case s: FileSourceScanExec => s }

  /** The same slice over an unmarked parquet read of one member table. */
  private def plain(table: String, p: String, n: Long): DataFrame =
    spark.read.parquet(s"$store/$table")
      .where(col("process") === p && col("chunk") === n / PerChunk && col("event_id") === n)

  test("a lookup returns the parquet path's rows and starts no job") {
    val r = new HepReader(spark, store)
    val warm = r.process(Procs.head).event(0) // opens the member tables
    warm.particles.collect(); warm.edges.collect(); warm.custom("wgt").collect(); warm.count
    // broadcast ids are sequential: a probe's id less the last probe's, less one
    def nextBroadcastId(): Long = {
      val b = spark.sparkContext.broadcast(0)
      try b.id finally b.destroy()
    }
    var lookupJobs = 0
    var lookupBroadcasts = 0L
    def counted[T](body: => T): T = {
      val j0 = jobs()
      val b0 = nextBroadcastId()
      val out = body
      lookupJobs += jobs() - j0
      lookupBroadcasts += nextBroadcastId() - b0 - 1
      out
    }
    def sel(cols: String*): DataFrame => DataFrame = _.select(cols.map(col): _*)
    for (p <- Procs; n <- Seq(0L, 4L, 7L, 10L, 11L)) {
      val ev = r.process(p).event(n)
      val particles = plain(ParticlesTable, p, n)
      val cases = Seq[(String, DataFrame, DataFrame)](
        ("particles", ev.particles, particles),
        ("pmu", ev.pmu, sel("idx", "pmu")(particles)),
        ("pdg", ev.pdg, sel("idx", "pdg")(particles)),
        ("status", ev.status, sel("idx", "status")(particles)),
        ("helicity", ev.helicity, sel("idx", "helicity")(particles)),
        ("colorCol", ev.colorCol, sel("idx", "color")(particles)),
        ("finalMask", ev.finalMask, sel("idx", "fin")(particles)),
        ("mask", ev.mask("signal"), particles.select(col("idx"),
          coalesce(element_at(col("masks"), "signal"), lit(false)))),
        ("finalParticles", ev.finalParticles, particles.where(col("fin"))),
        ("edges", ev.edges, sel("src", "dst", "weight")(plain(EdgesTable, p, n)))) ++
        Seq("wgt", "hits", "cov").map(c => (s"custom($c)", ev.custom(c),
          sel("values", "values_long", "values_2d", "dtype")(
            plain(CustomTable, p, n).where(col("name") === c))))
      for ((what, got, want) <- cases) {
        val rows = counted(got.collect())
        assert(rows.nonEmpty, s"$p/$n $what")
        assert(sorted(rows) == sorted(want.collect()), s"$p/$n $what")
      }
      val events = plain(EventsTable, p, n).collect()
      assert(counted(ev.count) == events.head.getAs[Long]("num_pcls"), s"$p/$n count")
      assert(counted(ev.customMeta) == events.head.getMap[String, String](
        events.head.fieldIndex("custom_meta")).toMap, s"$p/$n customMeta")
      assert(ev.customMeta("note") == s"$p-$n")
    }
    assert(lookupJobs == 0, s"lookups on an opened reader started $lookupJobs jobs")
    assert(lookupBroadcasts == 0,
      s"lookups on an opened reader created $lookupBroadcasts broadcasts")

    // past num_evts: no chunk directory, no rows, no job
    val past = r.process(Procs.head).event(NumEvts + PerChunk.toLong)
    val j0 = jobs()
    assert(past.particles.collect().isEmpty)
    assert(past.edges.collect().isEmpty)
    assert(past.count == 0L && past.customMeta.isEmpty)
    assert(jobs() - j0 == 0, "a lookup past num_evts started a job")
  }

  test("a process scan over several chunks plans the parquet scan") {
    val plan = new HepReader(spark, store).process(Procs.head).particles
      .queryExecution.executedPlan
    assert(scans(plan).nonEmpty && lookups(plan).isEmpty, plan.toString)
  }

  test("a chunk over the byte cap plans the parquet scan and returns its values") {
    val d = root.resolve("big").toString
    val n = 2400000 // random doubles in [0, 1) pack to ~7.6 bytes: ~18 MB > 16 MiB
    val rnd = new scala.util.Random(7)
    val big = Array.fill(n)(rnd.nextDouble())
    val w = new HepWriter(spark, d, evtsPerChunk = PerChunk)
    val p = w.newProcess("big")
    val b = p.newEvent()
    b.setPdg(Array(11, 13)).setCustom("big", big)
    p.commitEvent(b)
    w.close()
    val ev = new HepReader(spark, d).process("big").event(0)
    val customFiles = new java.io.File(s"$d/$CustomTable/process=big/chunk=0").listFiles()
    assert(customFiles.map(_.length).sum > HepLookup.MaxDriverReadBytes)
    val df = ev.custom("big")
    val plan = df.queryExecution.executedPlan
    assert(scans(plan).nonEmpty && lookups(plan).isEmpty, plan.toString)
    assert(df.collect().head.getSeq[Double](0) == big.toSeq)
    // the same event's small particle chunk still reads on the driver
    assert(lookups(ev.pdg.queryExecution.executedPlan).size == 1)
  }

  test("a lookup under count, orderBy, a join and a union returns the parquet rows") {
    val r = new HepReader(spark, store)
    val (p, q) = (Procs.head, Procs.last)
    val e4 = r.process(p).event(4)
    val e7 = r.process(q).event(7)
    val pl4 = plain(ParticlesTable, p, 4)
    val pl7 = plain(ParticlesTable, q, 7)
    assert(lookups(e4.particles.queryExecution.executedPlan).size == 1)
    assert(e4.particles.count() == pl4.count())
    assert(e4.pdg.orderBy(desc("idx")).collect().toSeq ==
      pl4.select("idx", "pdg").orderBy(desc("idx")).collect().toSeq)
    val joined = e4.pmu.join(e7.pdg, "idx")
    assert(lookups(joined.queryExecution.executedPlan).size == 2)
    assert(sorted(joined.collect()) ==
      sorted(pl4.select("idx", "pmu").join(pl7.select("idx", "pdg"), "idx").collect()))
    assert(sorted(e4.pdg.union(e7.pdg).collect()) ==
      sorted(pl4.select("idx", "pdg").union(pl7.select("idx", "pdg")).collect()))
    assert(e4.finalParticles.groupBy("fin").count().collect().toSeq ==
      pl4.where(col("fin")).groupBy("fin").count().collect().toSeq)
  }

  test("the lookup posts its file, byte and row metrics") {
    val ev = new HepReader(spark, store).process(Procs.head).event(7)
    val df = ev.finalParticles
    val rows = df.collect()
    val node = lookups(df.queryExecution.executedPlan).head
    val chunkDir = new java.io.File(s"$store/$ParticlesTable/process=${Procs.head}/chunk=1")
    val files = chunkDir.listFiles().filterNot(f => f.getName.startsWith(".") || f.getName.startsWith("_"))
    assert(files.length == 1)
    assert(node.metrics("numFiles").value == 1L)
    assert(node.metrics("filesSize").value == files.head.length())
    assert(node.metrics("numOutputRows").value == rows.length.toLong)
    assert(rows.nonEmpty)
    val chunkRows = spark.read.parquet(chunkDir.toString).count()
    val decoded = node.metrics("rowsDecoded").value
    assert(decoded >= rows.length && decoded <= chunkRows, s"decoded $decoded of $chunkRows")
  }

  test("the driver read skips row groups by event_id, per the session's pushdown setting") {
    // one process's particles rewritten with a row group per 4 rows: a
    // chunk file holds several row groups, sorted by (event_id, idx)
    val d = root.resolve("rowgroups").toString
    val p = Procs.head
    spark.read.parquet(s"$store/$ParticlesTable").where(col("process") === p)
      .repartition(1).sortWithinPartitions("process", "chunk", "event_id", "idx")
      .write.option("parquet.block.row.count.limit", "4")
      .partitionBy("process", "chunk").parquet(s"$d/$ParticlesTable")
    spark.read.parquet(s"$store/processes").write.parquet(s"$d/processes")
    Files.copy(Paths.get(s"$store/_meta.json"), Paths.get(s"$d/_meta.json"))

    val n = 7L // chunk 1 holds events 5 to 9
    val chunkDir = s"$d/$ParticlesTable/process=$p/chunk=${n / PerChunk}"
    val chunkFile = new java.io.File(chunkDir).listFiles().filter(_.getName.endsWith(".parquet"))
    assert(chunkFile.length == 1)
    val footer = ParquetFileReader.open(
      HadoopInputFile.fromPath(new Path(chunkFile.head.toURI), new Configuration()))
    val rowGroups = try footer.getRowGroups.size finally footer.close()
    assert(rowGroups > 2, s"$rowGroups row groups")
    val chunkRows = spark.read.parquet(chunkDir).count()
    val want = sorted(plain(ParticlesTable, p, n).collect())

    val r = new HepReader(spark, d)
    def lookup(): (Seq[String], Long) = {
      val df = r.process(p).event(n).particles
      val rows = df.collect()
      (sorted(rows), lookups(df.queryExecution.executedPlan).head.metrics("rowsDecoded").value)
    }
    val (pushedRows, pushedDecoded) = lookup()
    assert(pushedRows == want)
    assert(pushedDecoded < chunkRows, s"decoded $pushedDecoded of $chunkRows rows")

    // a session setting for the body only, restored afterwards
    def withConf[T](key: String, value: String)(body: => T): T = {
      val before = spark.conf.getOption(key)
      spark.conf.set(key, value)
      try body finally before.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    }
    val key = "spark.sql.parquet.filterPushdown"
    val before = spark.conf.getOption(key)
    val (fullRows, fullDecoded) = withConf(key, "false")(lookup())
    assert(fullRows == want)
    assert(fullDecoded == chunkRows)
    assert(spark.conf.getOption(key) == before)
    assert(lookup() == ((want, pushedDecoded)))
    // with vectorized reading off, the row reader skips the same row groups
    assert(withConf("spark.sql.parquet.enableVectorizedReader", "false")(lookup()) ==
      ((want, pushedDecoded)))
  }

  test("an accessor's own plan runs no analyzer rule before an action") {
    val r = new HepReader(spark, store)
    def rules(df: DataFrame): Seq[String] = df.queryExecution.tracker.rules.keys.toSeq.sorted
    for (open <- Seq(false, true); n <- Seq(4L, 7L)) {
      // the first pass opens the member tables from the lookup, the second reuses them
      val ev = r.process(Procs.last).event(n)
      val accessors = Seq[(String, DataFrame)](
        "particles" -> ev.particles, "pmu" -> ev.pmu, "pdg" -> ev.pdg,
        "status" -> ev.status, "helicity" -> ev.helicity, "colorCol" -> ev.colorCol,
        "finalMask" -> ev.finalMask, "finalParticles" -> ev.finalParticles,
        "edges" -> ev.edges, "custom(wgt)" -> ev.custom("wgt"),
        "custom(absent)" -> ev.custom("absent"))
      for ((what, df) <- accessors)
        assert(rules(df).isEmpty, s"open=$open $n $what ran ${rules(df).mkString(", ")}")
      // the probe sees an analyzer run: mask's element lookup goes through the ordinary API
      assert(rules(ev.mask("signal")).exists(_.contains(".analysis.")), s"$n mask")
      // the caller's own select is analyzed, over the accessor's analyzed plan
      val picked = ev.finalParticles.select("idx", "pdg")
      assert(sorted(picked.collect()) == sorted(plain(ParticlesTable, Procs.last, n)
        .where(col("fin")).select("idx", "pdg").collect()), s"$n select")
    }
  }

  test("an event id whose chunk is out of INT range, or negative, returns no rows and no job") {
    val d = root.resolve("perone").toString
    val w = new HepWriter(spark, d, evtsPerChunk = 1)
    val p = w.newProcess("one")
    for (e <- 0 until 3) {
      val b = p.newEvent()
      b.setPdg(Array(11 + e, 13)).setMask("final", Array(true, e % 2 == 0))
      b.setEdges(Array((0, 1)))
      b.setCustom("wgt", Array(0.5, e.toDouble))
      b.setCustomMeta("note", s"one-$e")
      p.commitEvent(b)
    }
    w.close()
    def all(ev: HepReader#EventReader): Seq[Array[Row]] =
      Seq(ev.particles, ev.pdg, ev.finalParticles, ev.mask("final"), ev.edges, ev.custom("wgt"))
        .map(_.collect())
    for (id <- Seq((1L << 31) + 5, -1L); opened <- Seq(false, true)) {
      val r = new HepReader(spark, d)
      if (opened) all(r.process("one").event(1)) // opens the member tables
      val j0 = jobs()
      val ev = r.process("one").event(id)
      assert(all(ev).forall(_.isEmpty), s"event $id")
      assert(ev.count == 0L && ev.customMeta.isEmpty, s"event $id")
      assert(jobs() - j0 == 0, s"a lookup of event $id started ${jobs() - j0} jobs")
    }
    // the same reader returns an event inside the store
    val ev = new HepReader(spark, d).process("one").event(2)
    assert(ev.pdg.collect().map(_.getInt(1)).sorted.toSeq == Seq(13, 13))
    assert(ev.count == 2L && ev.customMeta == Map("note" -> "one-2"))
  }

  test("a filter that mixes a partition and a data column returns the parquet rows") {
    val r = new HepReader(spark, store)
    // event 2 sits in chunk 0, where every row passes; event 7 in chunk 1,
    // where only its pdg 19 row does. An IN, not an equality: the optimizer
    // substitutes the lookup's `chunk = c` into comparisons only, which
    // would turn `chunk === 0 || pdg === 19` into a data-only filter
    val mixed = col("chunk").isin(0, 5) || col("pdg") === 19
    for (p <- Procs; (n, some) <- Seq(2L -> false, 7L -> true)) {
      val df = r.process(p).event(n).particles.where(mixed)
      val l = lookups(df.queryExecution.executedPlan)
      assert(l.size == 1, s"$p/$n")
      // the lookup evaluates the mixed filter on every row
      assert(l.head.filters.exists(f => !l.head.partitionFilters.contains(f) &&
        f.references.exists(_.name == "chunk") && f.references.exists(_.name == "pdg")), s"$p/$n")
      val want = plain(ParticlesTable, p, n)
      val got = sorted(df.collect())
      assert(got == sorted(want.where(mixed).collect()), s"$p/$n")
      val all = want.count()
      assert(got.nonEmpty && (if (some) got.size < all else got.size == all), s"$p/$n")
    }
  }

  test("custom over a store written before the typed columns surfaces them empty") {
    // the store with its custom table rewritten in the old layout: no dtype,
    // values_long or values_2d
    val d = root.resolve("untyped").toString
    org.apache.commons.io.FileUtils.copyDirectory(new java.io.File(store), new java.io.File(d))
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(s"$d/$CustomTable"))
    spark.read.parquet(s"$store/$CustomTable").select("event_id", "name", "values", "process", "chunk")
      .write.partitionBy("process", "chunk").parquet(s"$d/$CustomTable")
    val r = new HepReader(spark, d)
    for (p <- Procs; n <- Seq(0L, 7L)) {
      val got = r.process(p).event(n).custom("wgt")
      assert(got.columns.toSeq == Seq("values", "values_long", "values_2d", "dtype"))
      val want = plain(CustomTable, p, n).where(col("name") === "wgt").select("values").collect()
      val rows = got.collect()
      assert(rows.map(_.getSeq[Double](0)).toSeq == want.map(_.getSeq[Double](0)).toSeq, s"$p/$n")
      assert(rows.forall(row => row.getSeq[Long](1).isEmpty && row.getSeq[Seq[Double]](2).isEmpty &&
        row.getString(3) == "f8"), s"$p/$n")
    }
  }
}
