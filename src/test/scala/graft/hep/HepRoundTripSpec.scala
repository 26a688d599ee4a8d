package graft.hep

import java.nio.file.{Files, Paths}
import java.nio.file.attribute.PosixFilePermissions
import java.util.concurrent.{Callable, ConcurrentLinkedQueue, Executors, TimeUnit}
import scala.jdk.CollectionConverters._
import org.apache.hadoop.fs.Path
import org.apache.spark.scheduler.graftaccess.Jobs
import org.apache.spark.sql.{AnalysisException, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import Schemas._

class HepRoundTripSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = graft.EngineSession.local("4")
  lazy val dir: String =
    Files.createTempDirectory(
      java.nio.file.Paths.get("target"), "hepstore").toString

  override def afterAll(): Unit = spark.stop()

  private def mkEvent(
      b: HepWriter#EventBuilder, n: Int, seedBase: Long): Unit = {
    val rnd = new scala.util.Random(seedBase)
    b.setPmu(Array.tabulate(n)(i =>
        Pmu(rnd.nextDouble(), rnd.nextDouble(), rnd.nextDouble(), i + 1.0)))
      .setPdg(Array.tabulate(n)(i => 11 + i))
      .setStatus(Array.tabulate(n)(i => (i % 3).toShort))
      .setHelicity(Array.fill(n)(1.toShort))
      .setColor(Array.tabulate(n)(i => ColorPair(i, -i)))
      .setMask("final", Array.tabulate(n)(_ % 2 == 0))
      .setMask("signal", Array.tabulate(n)(_ < 2))
    b.setEdges(Array.tabulate(n)(i => (i, i + 1)))
    b.setEdgeWeights(Array.tabulate(n)(_ * 0.5))
    b.setCustom("weights2", Array.tabulate(n)(_ * 2.0))
    b.setCustomMeta("note", s"event-${b.eventId}")
  }

  private def jobs(): Int = Jobs.submitted(spark.sparkContext)

  /** `body`'s result, and the directories its readers listed and the
    * footers they read, in order.
    */
  private def reads[T](body: => T): (T, Seq[Path]) = {
    val seen = new ConcurrentLinkedQueue[Path]()
    HepChunkIndex.onRead = seen.add(_)
    try (body, seen.asScala.toSeq) finally HepChunkIndex.onRead = _ => ()
  }

  /** A one-process store whose events carry only pdg and final mask. */
  private def writeBare(d: String, process: String, counts: Seq[Int]): Unit = {
    val w = new HepWriter(spark, d, evtsPerChunk = 10)
    val p = w.newProcess(process)
    for (n <- counts) {
      val b = p.newEvent()
      b.setPdg(Array.tabulate(n)(11 + _)).setMask("final", Array.tabulate(n)(_ % 2 == 0))
      p.commitEvent(b)
    }
    w.close()
  }

  test("write then read round-trips particles, masks, edges, metadata") {
    val w = new HepWriter(spark, dir, evtsPerChunk = 10)
    val p = w.newProcess("higgs")
      .setProcessString("p p > h z")
      .setSignalPdgs(Seq(25, 23))
      .setComEnergy(13000.0, "GeV")
    p.setCustomMeta("generator", "pythia")
    for (e <- 0 until 25) { // crosses chunk boundaries (cpk=10 → 3 chunks)
      val b = p.newEvent()
      mkEvent(b, n = 4 + (e % 3), seedBase = e.toLong)
      p.commitEvent(b)
    }
    w.close()

    val r = new HepReader(spark, dir)
    assert(r.evtsPerChunk == 10)
    val proc = r.process("higgs")
    assert(proc.length == 25)
    assert(proc.processString == "p p > h z")
    assert(proc.signalPdgs == Seq(25, 23))
    assert(proc.comEnergy == ((13000.0, "GeV")))
    assert(proc.customMeta("generator") == "pythia")

    // point lookup vs scan agreement (S4 vs S5)
    val ev7 = proc.event(7)
    assert(ev7.count == 4 + (7 % 3))
    val pdgRows = ev7.pdg.orderBy("idx").collect().map(_.getInt(1)).toSeq
    assert(pdgRows == (0 until ev7.count.toInt).map(11 + _))

    // final mask semantics: pmu[final]
    val fin = ev7.finalParticles.orderBy("idx").collect()
    assert(fin.map(_.getAs[Int]("idx")).toSeq == (0 until ev7.count.toInt).filter(_ % 2 == 0))

    // extra mask via map column
    val sig = ev7.mask("signal").orderBy("idx").collect().map(_.getBoolean(1)).toSeq
    assert(sig == (0 until ev7.count.toInt).map(_ < 2))

    // edges + weights
    val ed = ev7.edges.orderBy("src").collect()
    assert(ed.length == ev7.count.toInt)
    assert(ed.head.getAs[Double]("weight") == 0.0)

    // custom dataset + event custom metadata
    val cu = ev7.custom("weights2").collect()
    assert(cu.nonEmpty)
    assert(cu.head.getSeq[Double](0) == (0 until ev7.count.toInt).map(_ * 2.0))
    assert(ev7.customMeta("note") == "event-7")

    // full-scan totals match per-event counts (A1/A2 parity)
    val total = proc.particles.count()
    assert(total == (0 until 25).map(e => 4 + (e % 3)).sum)
  }

  test("typed custom datasets and decay legacy surface round-trip") {
    val d2 = dir + "-typed"
    val w = new HepWriter(spark, d2, evtsPerChunk = 5)
    val p = w.newProcess("zmumu").setProcessString("p p > z")
    p.setDecay(Seq(2212, 2212), Seq(13, -13))
    val b = p.newEvent()
    b.setPdg(Array(13, -13))
    // int custom data must NOT coerce through doubles: 1L<<60 is above
    // 2^53 and would round
    b.setCustom("hits", Array(5L, 1L << 60))
    // 2-D (and ragged) custom data, reference any-shape passthrough
    b.setCustom2d("cov", Array(Array(1.0, 0.5), Array(0.5, 2.0, 9.0)))
    b.setCustom("wgt", Array(0.25, 0.75))
    p.commitEvent(b)
    w.close()

    val r = new HepReader(spark, d2)
    val proc = r.process("zmumu")
    assert(proc.decay == Map(
      "in_pcls" -> Seq(2212, 2212), "out_pcls" -> Seq(13, -13)))
    val ev = proc.event(0)
    val hits = ev.custom("hits").collect().head
    assert(hits.getAs[String]("dtype") == "i8")
    assert(hits.getSeq[Long](1) == Seq(5L, 1L << 60))
    val cov = ev.custom("cov").collect().head
    assert(cov.getAs[String]("dtype") == "f8_2d")
    assert(cov.getSeq[scala.collection.Seq[Double]](2).map(_.toSeq) ==
      Seq(Seq(1.0, 0.5), Seq(0.5, 2.0, 9.0)))
    val wgt = ev.custom("wgt").collect().head
    assert(wgt.getAs[String]("dtype") == "f8")
    assert(wgt.getSeq[Double](0) == Seq(0.25, 0.75))
  }

  test("pre-decay stores open with empty decay arrays (schema evolution)") {
    val d2 = dir + "-typed"
    val d3 = dir + "-legacy"
    // simulate a store written before the decay columns existed
    spark.read.parquet(s"$d2/processes").drop("in_pcls", "out_pcls")
      .write.parquet(s"$d3/processes")
    Files.copy(java.nio.file.Paths.get(s"$d2/_meta.json"),
      java.nio.file.Paths.get(s"$d3/_meta.json"))
    val proc = new HepReader(spark, d3).process("zmumu")
    assert(proc.decay == Map("in_pcls" -> Nil, "out_pcls" -> Nil))
    assert(proc.processString == "p p > z")
  }

  test("row-count invariant: second column with different length throws") {
    val w = new HepWriter(spark, dir + "-inv")
    val p = w.newProcess("x")
    val b = p.newEvent()
    b.setPdg(Array(1, 2, 3))
    val e = intercept[IllegalArgumentException] {
      b.setStatus(Array[Short](1, 2))
    }
    assert(e.getMessage.contains("num_pcls"))
  }

  test("edge-weight length invariant throws") {
    val w = new HepWriter(spark, dir + "-inv2")
    val b = w.newProcess("x").newEvent()
    b.setEdges(Array((0, 1), (1, 2)))
    intercept[IllegalArgumentException] {
      b.setEdgeWeights(Array(0.5))
    }
  }

  test("mask counts toward num_pcls (reference _mask_setter)") {
    val w = new HepWriter(spark, dir + "-inv3")
    val b = w.newProcess("x").newEvent()
    b.setMask("final", Array(true, false))
    intercept[IllegalArgumentException] {
      b.setPdg(Array(1, 2, 3))
    }
  }

  test("reopening a finalized store is refused (no silent corruption)") {
    val d2 = dir + "-reopen"
    val w = new HepWriter(spark, d2)
    val p = w.newProcess("zz")
    val b = p.newEvent()
    b.setPmu(Array(Pmu(1, 2, 3, 4)))
    p.commitEvent(b)
    w.close()
    intercept[IllegalArgumentException] { new HepWriter(spark, d2) }
  }

  test("a process key opened twice in one writer is refused") {
    val d = dir + "-dupkey"
    val w = new HepWriter(spark, d, evtsPerChunk = 2)
    val p = w.newProcess("x")
    for (_ <- 0 until 3) p.commitEvent(p.newEvent().setPdg(Array(11)))
    val e = intercept[IllegalArgumentException] { w.newProcess("x") }
    assert(e.getMessage.contains("process x is already open"))
    // the first builder is kept: its flushed and pending events all land
    w.close()
    val x = new HepReader(spark, d).process("x")
    assert(x.length == 3)
    assert(x.particles.select("event_id").collect().map(_.getLong(0)).sorted.toSeq == Seq(0L, 1L, 2L))
  }

  test("per-store compression codec reaches the parquet files") {
    val d2 = dir + "-gz"
    val w = new HepWriter(spark, d2, evtsPerChunk = 10, compression = "gzip")
    val p = w.newProcess("cz")
    val b = p.newEvent()
    b.setPmu(Array(Pmu(1, 2, 3, 4)))
    p.commitEvent(b)
    w.close()
    def parquetFiles(f: java.io.File): Seq[String] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(parquetFiles)
      else if (f.getName.endsWith(".parquet")) Seq(f.getName) else Nil
    val files = parquetFiles(new java.io.File(d2))
    assert(files.nonEmpty)
    assert(files.forall(_.endsWith(".gz.parquet")),
      s"expected gzip-coded files, got: $files")
  }

  test("compression level knob round-trips and reaches the codec") {
    def writeStore(d: String, level: Int): Long = {
      val w = new HepWriter(spark, d, evtsPerChunk = 10,
        compression = "zstd", compressionLevel = Some(level))
      val p = w.newProcess("lvl")
      for (e <- 0 until 20) {
        val b = p.newEvent()
        // medium-entropy payload: level differences only show on data the
        // dictionary/RLE encodings don't already flatten
        val n = 40
        b.setPmu(Array.tabulate(n)(i =>
          Pmu(math.sin(e * 37 + i), math.cos(e * 13 + i), i * 0.37, i + e * 0.11)))
          .setPdg(Array.tabulate(n)(i => (e * 7 + i * 3) % 400))
          .setStatus(Array.tabulate(n)(i => ((e + i) % 5).toShort))
        p.commitEvent(b)
      }
      w.close()
      def size(f: java.io.File): Long =
        if (f.isDirectory) f.listFiles().map(size).sum
        else if (f.getName.endsWith(".parquet")) f.length else 0L
      size(new java.io.File(d))
    }
    val s1 = writeStore(dir + "-zl1", 1)
    val s19 = writeStore(dir + "-zl19", 19)
    // level must actually reach the codec: max-level output is no larger
    assert(s19 <= s1, s"zstd level ignored: level-19 store $s19 B > level-1 $s1 B")
    // and a level-9 gzip store round-trips intact
    val d9 = dir + "-gz9"
    val w = new HepWriter(spark, d9, evtsPerChunk = 10,
      compression = "gzip", compressionLevel = Some(9))
    val p = w.newProcess("g9")
    val b = p.newEvent()
    mkEvent(b, n = 5, seedBase = 99L)
    p.commitEvent(b)
    w.close()
    val r = new HepReader(spark, d9)
    assert(r.process("g9").length == 1)
    assert(r.process("g9").event(0).count == 5)
  }

  test("key formats match the reference (utils.py:7-14)") {
    assert(Keys.eventKey(7, 1000) == "evt-007")
    assert(Keys.eventKey(1234, 1000) == "evt-234")
    assert(Keys.chunkKey(3) == "evt-set-000003")
    assert(Keys.eventKey(5, 10) == "evt-5")
    assert(Keys.eventKey(41, 1) == "evt-0") // `:00d` still prints a digit
    assert(Keys.eventKey(7, 5000) == "evt-0007")
    assert(Keys.chunkOf(1234, 1000) == 1)
  }

  test("point lookup plan prunes partitions (chunk) and pushes event_id") {
    val r = new HepReader(spark, dir)
    val plan = r.process("higgs").event(7).pmu
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters"))
    assert(plan.contains("event_id"), "event_id filter should reach the scan")
  }

  test("evtsPerChunk reads the sidecar once per reader, not per lookup") {
    val r = new HepReader(spark, dir)
    val proc = r.process("higgs")
    val before = HadoopIo.readCount.get()
    val e1 = proc.event(3) // each lookup divides by evtsPerChunk
    val e2 = proc.event(17)
    assert(e1.name == "evt-3" && e2.name == "evt-7") // forces key math too
    val after = HadoopIo.readCount.get()
    assert(after - before <= 1,
      s"expected at most one sidecar read across two point lookups, " +
        s"got ${after - before}")
  }

  test("an opened reader: process() starts no job, a lookup none") {
    val r = new HepReader(spark, dir)
    r.process("higgs").event(7).finalParticles.collect() // opens the tables
    val j0 = jobs()
    val proc = r.process("higgs")
    assert(r.processes.collect().map(_.process).toSeq == Seq("higgs"))
    assert(jobs() - j0 == 0, "process metadata on an opened reader started a job")
    val j1 = jobs()
    val fin = proc.event(13).finalParticles.collect()
    assert(jobs() - j1 == 0, s"a point lookup started ${jobs() - j1} jobs")
    assert(fin.map(_.getAs[Int]("idx")).sorted.toSeq ==
      (0 until 4 + 13 % 3).filter(_ % 2 == 0))
    // another reader on the same path opens its own tables: it reads the
    // sidecar, lists `processes` and reads its footer again
    val sidecars = HadoopIo.readCount.get()
    val (_, seen) = reads(assert(new HepReader(spark, dir).process("higgs").length == 25))
    assert(HadoopIo.readCount.get() - sidecars == 1,
      "a new reader reused another reader's sidecar")
    assert(seen.size == 2 && seen.head.getName == ProcessesTable &&
      seen(1).getParent.getName == ProcessesTable && seen(1).getName.endsWith(".parquet"),
      s"a new reader reused another reader's listing or footer: $seen")
  }

  test("a reader is a snapshot: a rewritten store needs a new reader") {
    val d = dir + "-snap"
    writeBare(d, "before", Seq(3))
    val old = new HepReader(spark, d)
    assert(old.process("before").event(0).pdg.count() == 3)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(d))
    writeBare(d, "after", Seq(2))
    assert(old.process("before").length == 1)
    assert(old.processes.collect().map(_.process).toSeq == Seq("before"))
    intercept[IllegalArgumentException] { old.process("after") }
    val fresh = new HepReader(spark, d)
    assert(fresh.process("after").event(0).pdg.count() == 2)
    intercept[IllegalArgumentException] { fresh.process("before") }
  }

  test("process of an unknown key throws IllegalArgumentException") {
    val r = new HepReader(spark, dir)
    val e = intercept[IllegalArgumentException] { r.process("missing") }
    assert(e.getMessage.contains("no such process: missing"))
    assert(r.process("higgs").length == 25) // the reader stays usable
  }

  test("a store without custom datasets: lookups work, custom fails every time") {
    val d = dir + "-nocustom"
    writeBare(d, "nc", Seq(4, 5))
    val r = new HepReader(spark, d)
    val ev = r.process("nc").event(1)
    assert(ev.pdg.count() == 5)
    val e1 = intercept[AnalysisException] { ev.custom("w") }
    val e2 = intercept[AnalysisException] { r.process("nc").event(0).custom("w") }
    assert(e1.getCondition == e2.getCondition && e1.getMessage == e2.getMessage)
    assert(ev.finalParticles.count() == 3) // other tables not poisoned
    assert(r.process("nc").event(0).count == 4)
    // the failure was not remembered: once the table exists, it opens
    import spark.implicits._
    Seq(CustomRow("nc", 1L, "w", Seq(0.5))).toDS()
      .withColumn("chunk", org.apache.spark.sql.functions.lit(0L))
      .write.partitionBy("process", "chunk").parquet(s"$d/$CustomTable")
    assert(ev.custom("w").collect().map(_.getSeq[Double](0)).toSeq == Seq(Seq(0.5)))
  }

  test("lookups from 4 threads through one reader return the written values") {
    val r = new HepReader(spark, dir) // the threads race its first opens too
    val pool = Executors.newFixedThreadPool(4)
    try {
      val futures = (0 until 4).map { t =>
        pool.submit(new Callable[Seq[String]] {
          def call(): Seq[String] = (0 until 6).map(t * 6 + _).flatMap { e =>
            val n = 4 + e % 3
            val ev = r.process("higgs").event(e)
            val pdg = ev.pdg.collect().sortBy(_.getInt(0)).map(_.getInt(1)).toSeq
            if (ev.count == n && pdg == (0 until n).map(11 + _)) None
            else Some(s"event $e: count ${ev.count}, pdg $pdg")
          }
        })
      }
      val bad = futures.flatMap(_.get(5, TimeUnit.MINUTES))
      assert(bad.isEmpty, bad.mkString("; "))
    } finally pool.shutdownNow()
  }

  test("a second close is a no-op and a closed writer refuses events") {
    val d = dir + "-closed"
    val w = new HepWriter(spark, d, evtsPerChunk = 2)
    val p = w.newProcess("x")
    for (_ <- 0 until 3) p.commitEvent(p.newEvent().setPdg(Array(11, 12)))
    val late = p.newEvent().setPdg(Array(13))
    w.close()
    w.close()
    assert(spark.read.parquet(s"$d/$ProcessesTable").count() == 1,
      "a second close appended another copy of the processes rows")
    intercept[IllegalStateException] { w.newProcess("y") }
    intercept[IllegalStateException] { p.newEvent() }
    intercept[IllegalStateException] { p.commitEvent(late) }
    val x = new HepReader(spark, d).process("x")
    assert(x.length == 3)
    assert(x.particles.count() == 6)
    assert(spark.read.parquet(s"$d/$ParticlesTable").count() == 6)
  }

  test("every (table, process, chunk) directory holds one file in (event_id, idx) order") {
    val d = dir + "-layout"
    val w = new HepWriter(spark, d, evtsPerChunk = 5)
    val p = w.newProcess("lay")
    for (e <- 0 until 40) {
      val b = p.newEvent()
      mkEvent(b, n = 4 + (e % 3), seedBase = e.toLong)
      p.commitEvent(b)
    }
    w.close()
    def dataFiles(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(dataFiles)
      else if (f.getName.startsWith("_") || f.getName.startsWith(".")) Nil
      else Seq(f)
    for (t <- Seq(ParticlesTable, EdgesTable, EventsTable, CustomTable);
         c <- 0 until 8) {
      val chunkDir = new java.io.File(s"$d/$t/process=lay/chunk=$c")
      val files = dataFiles(chunkDir)
      assert(files.size == 1, s"$chunkDir holds ${files.size} data files")
    }
    for (f <- dataFiles(new java.io.File(s"$d/$ParticlesTable"))) {
      val keys = spark.read.parquet(f.getPath).select("event_id", "idx")
        .collect().map(r => (r.getLong(0), r.getInt(1))).toSeq
      assert(keys == keys.sorted, s"$f is not in (event_id, idx) order")
      assert(keys.map(_._1).distinct.size == 5)
    }
    for (t <- Seq(ParticlesTable, EdgesTable, EventsTable, CustomTable)) {
      val (before, after) = HepMaintenance.compact(spark, d, t)
      assert(before == 8 && after == 8, s"$t: compact found $before -> $after files")
    }
  }

  test("a failed flush leg rethrows its own exception and leaves no job running") {
    // the edges leg fails: its table root is a regular file
    def writerWithBlockedEdges(d: String): HepWriter = {
      val w = new HepWriter(spark, d, evtsPerChunk = 2)
      new java.io.File(d).mkdirs()
      Files.write(java.nio.file.Paths.get(s"$d/$EdgesTable"), Array[Byte](1))
      w
    }
    def commitOne(p: HepWriter#ProcessBuilder): Unit =
      p.eventIter(Seq(0)) { (b, _) => b.setPdg(Array(11, 12)).setEdges(Array((0, 1))) }
    def noActiveJobs(): Unit =
      assert(spark.sparkContext.statusTracker.getActiveJobIds().isEmpty)

    val d1 = dir + "-failcommit"
    val w1 = writerWithBlockedEdges(d1)
    val p1 = w1.newProcess("f")
    commitOne(p1)
    val spare = p1.newEvent().setPdg(Array(13))
    val e1 = intercept[Throwable] { commitOne(p1) } // chunk flush
    noActiveJobs()
    val d2 = dir + "-failclose"
    val w2 = writerWithBlockedEdges(d2)
    val p2 = w2.newProcess("f")
    commitOne(p2)
    val e2 = intercept[Throwable] { w2.close() } // final partial chunk
    noActiveJobs()
    // the exception a direct write into the blocked root raises
    val expected = intercept[Throwable] {
      import spark.implicits._
      Seq(EdgeRow("p", 0L, 0, 1, 1.0)).toDS().write
        .mode(org.apache.spark.sql.SaveMode.Append).parquet(s"$d1/$EdgesTable")
    }.getClass
    for (e <- Seq(e1, e2)) {
      assert(!e.isInstanceOf[java.util.concurrent.ExecutionException], e)
      assert(e.getClass == expected, s"expected $expected, got $e")
    }
    // the failed flush poisoned w1: every later call refuses, naming the
    // failure as its cause, and nothing finalizes the torn store
    val refusals = Seq[(String, () => Any)](
      "close" -> (() => w1.close()),
      "newProcess" -> (() => w1.newProcess("g")),
      "newEvent" -> (() => p1.newEvent()),
      "commitEvent" -> (() => p1.commitEvent(spare)))
    for ((what, call) <- refusals) {
      val e = intercept[IllegalStateException] { call() }
      assert(e.getCause eq e1, s"$what: cause ${e.getCause}")
    }
    assert(!new java.io.File(s"$d1/_meta.json").exists())
    assert(!new java.io.File(s"$d1/$ProcessesTable").exists())
    val visible = Files.walk(java.nio.file.Paths.get(s"$d1/$ParticlesTable"))
    try assert(visible.filter(f => Files.isRegularFile(f) &&
        !f.getFileName.toString.startsWith(".")).count() == 0)
    finally visible.close()
  }

  test("a finished store whose _meta.json is gone is refused") {
    val d = dir + "-nosidecar"
    writeBare(d, "x", Seq(2, 3))
    assert(new HepReader(spark, d).process("x").length == 2)
    // the sidecar was renamed into place: no temp file is left beside it
    val names = new java.io.File(d).list().toSeq
    assert(!names.exists(_.endsWith(".tmp")), names)
    Files.delete(java.nio.file.Paths.get(s"$d/_meta.json"))
    val e = intercept[IllegalArgumentException] { new HepReader(spark, d) }
    assert(e.getMessage.contains(s"$d/_meta.json"), e.getMessage)
    assert(e.getMessage.contains("never finalized"), e.getMessage)
    // a sidecar without evts_per_chunk is refused too, not read as the
    // default (its stale checksum goes first, or the read fails on it)
    Files.delete(java.nio.file.Paths.get(s"$d/._meta.json.crc"))
    Files.write(java.nio.file.Paths.get(s"$d/_meta.json"), "{}".getBytes)
    val e2 = intercept[IllegalArgumentException] { new HepReader(spark, d) }
    assert(e2.getMessage.contains("never finalized"), e2.getMessage)
  }

  test("a writer refuses evtsPerChunk below 1; at 1 every event is evt-0") {
    val d = dir + "-cpk"
    for (cpk <- Seq(0, -1)) {
      val e = intercept[IllegalArgumentException] {
        new HepWriter(spark, d, evtsPerChunk = cpk)
      }
      assert(e.getMessage.contains(s"got $cpk"), e.getMessage)
      assert(!new java.io.File(d).exists())
    }
    val w = new HepWriter(spark, d, evtsPerChunk = 1)
    val p = w.newProcess("x")
    for (n <- 1 to 3) p.commitEvent(p.newEvent().setPdg(Array.fill(n)(11)))
    w.close()
    val x = new HepReader(spark, d).process("x")
    assert((0 until 3).map(n => x.event(n).name) == Seq("evt-0", "evt-0", "evt-0"))
    assert((0 until 3).map(n => x.event(n).count) == Seq(1L, 2L, 3L))
  }

  test("a sidecar whose evts_per_chunk is 0 is refused") {
    val d = dir + "-cpk0"
    writeBare(d, "x", Seq(2, 3))
    val meta = java.nio.file.Paths.get(s"$d/_meta.json")
    val text = new String(Files.readAllBytes(meta))
    assert(text.contains("\"evts_per_chunk\":10"), text)
    Files.delete(java.nio.file.Paths.get(s"$d/._meta.json.crc"))
    Files.write(meta, text.replace("\"evts_per_chunk\":10", "\"evts_per_chunk\":0").getBytes)
    val e = intercept[IllegalArgumentException] { new HepReader(spark, d) }
    assert(e.getMessage.contains("evts_per_chunk = 0"), e.getMessage)
  }

  test("a flush that spans two chunks writes each event under its own chunk") {
    val d = dir + "-span"
    val w = new HepWriter(spark, d, evtsPerChunk = 2)
    val p = w.newProcess("x")
    // event 0 is dropped by its caller after a failed setter: a gap
    intercept[IllegalArgumentException] {
      p.newEvent().setPdg(Array(11)).setStatus(Array[Short](1, 2))
    }
    def filled(b: w.EventBuilder): w.EventBuilder =
      b.setPdg(Array.fill(b.eventId.toInt + 1)(b.eventId.toInt)).setEdges(Array((0, 1)))
    p.commitEvent(filled(p.newEvent())) // 1, chunk 0
    p.commitEvent(filled(p.newEvent())) // 2, chunk 1: flushes {1, 2}
    val (b3, b4) = (filled(p.newEvent()), filled(p.newEvent()))
    p.commitEvent(b4) // out of order: flushes {4, 3}
    p.commitEvent(b3)
    w.close()
    val x = new HepReader(spark, d).process("x")
    assert(x.length == 4)
    for (e <- 1L to 4L) {
      val ev = x.event(e)
      assert(ev.count == e + 1, s"event $e")
      assert(ev.pdg.collect().map(_.getInt(1)).toSeq == Seq.fill(e.toInt + 1)(e.toInt))
    }
    for (t <- Seq(ParticlesTable, EdgesTable, EventsTable)) {
      val misplaced = spark.read.parquet(s"$d/$t")
        .where("chunk != event_id div 2").count()
      assert(misplaced == 0, s"$t: $misplaced rows outside their chunk")
    }
  }

  test("ingest starts no Spark job") {
    val d = dir + "-nojob"
    val w = new HepWriter(spark, d, evtsPerChunk = 5)
    val j0 = jobs()
    for (proc <- Seq("a", "b")) {
      val p = w.newProcess(proc)
      for (e <- 0 until 40) {
        val b = p.newEvent()
        mkEvent(b, n = 4 + (e % 3), seedBase = e.toLong)
        p.commitEvent(b)
      }
    }
    w.close()
    assert(jobs() - j0 == 0, s"ingest started ${jobs() - j0} jobs")
    val r = new HepReader(spark, d)
    assert(r.process("b").length == 40)
    val ev = r.process("b").event(37)
    assert(ev.count == 4 + 37 % 3)
    assert(ev.mask("signal").collect().count(_.getBoolean(1)) == 2)
    assert(ev.custom("weights2").collect().head.getSeq[Double](0) ==
      (0 until ev.count.toInt).map(_ * 2.0))
  }

  test("a process key that needs escaping round-trips through reader, parquet and SQL") {
    val d = dir + "-escape"
    val key = "p p>h/z=1%"
    writeBare(d, key, Seq(3, 4, 5))
    val partDir = org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
      .getPartitionPathString("process", key)
    assert(new java.io.File(s"$d/$ParticlesTable/$partDir").isDirectory)
    val ev = new HepReader(spark, d).process(key).event(2)
    assert(ev.pdg.collect().map(_.getInt(1)).sorted.toSeq == (0 until 5).map(11 + _))
    assert(spark.read.parquet(s"$d/$ParticlesTable").select("process").distinct()
      .collect().map(_.getString(0)).toSeq == Seq(key))
    spark.conf.set("spark.sql.catalog.hepesc", classOf[graft.sources.HepCatalog].getName)
    spark.conf.set("spark.sql.catalog.hepesc.path", d)
    val rows = spark.sql(
      "SELECT process, count(*) FROM hepesc.default.particles GROUP BY process").collect()
    assert(rows.map(r => (r.getString(0), r.getLong(1))).toSeq == Seq((key, 12L)))
  }

  test("member-table schemas match the ones Spark's own writer produced") {
    val d = dir + "-schema"
    val w = new HepWriter(spark, d, evtsPerChunk = 2)
    val p = w.newProcess("s").setProcessString("p p > s").setSignalPdgs(Seq(25))
    p.setDecay(Seq(2212), Seq(25))
    p.setCustomMeta("generator", "pythia")
    for (e <- 0 until 3) {
      val b = p.newEvent()
      mkEvent(b, n = 3, seedBase = e.toLong)
      b.setCustom("hits", Array(5L, e.toLong))
      b.setCustom2d("cov", Array(Array(1.0, e.toDouble)))
      p.commitEvent(b)
    }
    w.close()
    // pinned from the Spark write job that wrote these tables before:
    // the schema a read resolves, and the Spark schema in each file's
    // footer, which keeps the writer's nullability (a read drops it)
    val readSchemas = Map(
      ParticlesTable ->
        """{"type":"struct","fields":[{"name":"event_id","type":"long","nullable":true,"metadata":{}},
        |{"name":"idx","type":"integer","nullable":true,"metadata":{}},
        |{"name":"pmu","type":{"type":"struct","fields":[{"name":"x","type":"double","nullable":true,"metadata":{}},
        |{"name":"y","type":"double","nullable":true,"metadata":{}},
        |{"name":"z","type":"double","nullable":true,"metadata":{}},
        |{"name":"e","type":"double","nullable":true,"metadata":{}}]},"nullable":true,"metadata":{}},
        |{"name":"pdg","type":"integer","nullable":true,"metadata":{}},
        |{"name":"status","type":"short","nullable":true,"metadata":{}},
        |{"name":"helicity","type":"short","nullable":true,"metadata":{}},
        |{"name":"color","type":{"type":"struct","fields":[{"name":"color","type":"integer","nullable":true,"metadata":{}},
        |{"name":"anticolor","type":"integer","nullable":true,"metadata":{}}]},"nullable":true,"metadata":{}},
        |{"name":"fin","type":"boolean","nullable":true,"metadata":{}},
        |{"name":"masks","type":{"type":"map","keyType":"string","valueType":"boolean","valueContainsNull":true},"nullable":true,"metadata":{}},
        |{"name":"process","type":"string","nullable":true,"metadata":{}},
        |{"name":"chunk","type":"integer","nullable":true,"metadata":{}}]}""",
      EdgesTable ->
        """{"type":"struct","fields":[{"name":"event_id","type":"long","nullable":true,"metadata":{}},
        |{"name":"src","type":"integer","nullable":true,"metadata":{}},
        |{"name":"dst","type":"integer","nullable":true,"metadata":{}},
        |{"name":"weight","type":"double","nullable":true,"metadata":{}},
        |{"name":"process","type":"string","nullable":true,"metadata":{}},
        |{"name":"chunk","type":"integer","nullable":true,"metadata":{}}]}""",
      EventsTable ->
        """{"type":"struct","fields":[{"name":"event_id","type":"long","nullable":true,"metadata":{}},
        |{"name":"num_pcls","type":"long","nullable":true,"metadata":{}},
        |{"name":"custom_meta","type":{"type":"map","keyType":"string","valueType":"string","valueContainsNull":true},"nullable":true,"metadata":{}},
        |{"name":"process","type":"string","nullable":true,"metadata":{}},
        |{"name":"chunk","type":"integer","nullable":true,"metadata":{}}]}""",
      ProcessesTable ->
        """{"type":"struct","fields":[{"name":"process","type":"string","nullable":true,"metadata":{}},
        |{"name":"process_string","type":"string","nullable":true,"metadata":{}},
        |{"name":"signal_pdgs","type":{"type":"array","elementType":"integer","containsNull":true},"nullable":true,"metadata":{}},
        |{"name":"com_e","type":"double","nullable":true,"metadata":{}},
        |{"name":"e_unit","type":"string","nullable":true,"metadata":{}},
        |{"name":"num_evts","type":"long","nullable":true,"metadata":{}},
        |{"name":"custom_meta","type":{"type":"map","keyType":"string","valueType":"string","valueContainsNull":true},"nullable":true,"metadata":{}},
        |{"name":"in_pcls","type":{"type":"array","elementType":"integer","containsNull":true},"nullable":true,"metadata":{}},
        |{"name":"out_pcls","type":{"type":"array","elementType":"integer","containsNull":true},"nullable":true,"metadata":{}}]}""",
      CustomTable ->
        """{"type":"struct","fields":[{"name":"event_id","type":"long","nullable":true,"metadata":{}},
        |{"name":"name","type":"string","nullable":true,"metadata":{}},
        |{"name":"values","type":{"type":"array","elementType":"double","containsNull":true},"nullable":true,"metadata":{}},
        |{"name":"dtype","type":"string","nullable":true,"metadata":{}},
        |{"name":"values_long","type":{"type":"array","elementType":"long","containsNull":true},"nullable":true,"metadata":{}},
        |{"name":"values_2d","type":{"type":"array","elementType":{"type":"array","elementType":"double","containsNull":true},"containsNull":true},"nullable":true,"metadata":{}},
        |{"name":"process","type":"string","nullable":true,"metadata":{}},
        |{"name":"chunk","type":"integer","nullable":true,"metadata":{}}]}""")
    val footerSchemas = Map(
      ParticlesTable ->
        """{"type":"struct","fields":[{"name":"event_id","type":"long","nullable":false,"metadata":{}},
        |{"name":"idx","type":"integer","nullable":false,"metadata":{}},
        |{"name":"pmu","type":{"type":"struct","fields":[{"name":"x","type":"double","nullable":false,"metadata":{}},
        |{"name":"y","type":"double","nullable":false,"metadata":{}},
        |{"name":"z","type":"double","nullable":false,"metadata":{}},
        |{"name":"e","type":"double","nullable":false,"metadata":{}}]},"nullable":true,"metadata":{}},
        |{"name":"pdg","type":"integer","nullable":false,"metadata":{}},
        |{"name":"status","type":"short","nullable":false,"metadata":{}},
        |{"name":"helicity","type":"short","nullable":false,"metadata":{}},
        |{"name":"color","type":{"type":"struct","fields":[{"name":"color","type":"integer","nullable":false,"metadata":{}},
        |{"name":"anticolor","type":"integer","nullable":false,"metadata":{}}]},"nullable":true,"metadata":{}},
        |{"name":"fin","type":"boolean","nullable":false,"metadata":{}},
        |{"name":"masks","type":{"type":"map","keyType":"string","valueType":"boolean","valueContainsNull":false},"nullable":true,"metadata":{}}]}""",
      EdgesTable ->
        """{"type":"struct","fields":[{"name":"event_id","type":"long","nullable":false,"metadata":{}},
        |{"name":"src","type":"integer","nullable":false,"metadata":{}},
        |{"name":"dst","type":"integer","nullable":false,"metadata":{}},
        |{"name":"weight","type":"double","nullable":false,"metadata":{}}]}""",
      EventsTable ->
        """{"type":"struct","fields":[{"name":"event_id","type":"long","nullable":false,"metadata":{}},
        |{"name":"num_pcls","type":"long","nullable":false,"metadata":{}},
        |{"name":"custom_meta","type":{"type":"map","keyType":"string","valueType":"string","valueContainsNull":true},"nullable":true,"metadata":{}}]}""",
      ProcessesTable ->
        """{"type":"struct","fields":[{"name":"process","type":"string","nullable":true,"metadata":{}},
        |{"name":"process_string","type":"string","nullable":true,"metadata":{}},
        |{"name":"signal_pdgs","type":{"type":"array","elementType":"integer","containsNull":false},"nullable":true,"metadata":{}},
        |{"name":"com_e","type":"double","nullable":false,"metadata":{}},
        |{"name":"e_unit","type":"string","nullable":true,"metadata":{}},
        |{"name":"num_evts","type":"long","nullable":false,"metadata":{}},
        |{"name":"custom_meta","type":{"type":"map","keyType":"string","valueType":"string","valueContainsNull":true},"nullable":true,"metadata":{}},
        |{"name":"in_pcls","type":{"type":"array","elementType":"integer","containsNull":false},"nullable":true,"metadata":{}},
        |{"name":"out_pcls","type":{"type":"array","elementType":"integer","containsNull":false},"nullable":true,"metadata":{}}]}""",
      CustomTable ->
        """{"type":"struct","fields":[{"name":"event_id","type":"long","nullable":false,"metadata":{}},
        |{"name":"name","type":"string","nullable":true,"metadata":{}},
        |{"name":"values","type":{"type":"array","elementType":"double","containsNull":false},"nullable":true,"metadata":{}},
        |{"name":"dtype","type":"string","nullable":true,"metadata":{}},
        |{"name":"values_long","type":{"type":"array","elementType":"long","containsNull":false},"nullable":true,"metadata":{}},
        |{"name":"values_2d","type":{"type":"array","elementType":{"type":"array","elementType":"double","containsNull":false},"containsNull":true},"nullable":true,"metadata":{}}]}""")
    def pinned(s: String): String = s.stripMargin.replace("\n", "")
    val r = new HepReader(spark, d)
    for (t <- readSchemas.keys) {
      assert(spark.read.parquet(s"$d/$t").schema.json == pinned(readSchemas(t)), t)
      // the reader's table, its schema read from one footer, resolves the same
      assert(r.table(t).schema.json == pinned(readSchemas(t)), s"reader's $t")
      val files = Files.walk(java.nio.file.Paths.get(s"$d/$t"))
      try files.filter(f => f.toString.endsWith(".parquet") &&
          !f.getFileName.toString.startsWith(".")).forEach { f =>
        val in = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            new org.apache.hadoop.fs.Path(f.toString),
            spark.sessionState.newHadoopConf()))
        try assert(in.getFooter.getFileMetaData.getKeyValueMetaData
            .get("org.apache.spark.sql.parquet.row.metadata") ==
          pinned(footerSchemas(t)), f)
        finally in.close()
      }
      finally files.close()
    }
  }

  test("ingest forks no process and leaves the permissions chmod set") {
    def ingest(d: String): Unit = {
      val w = new HepWriter(spark, d, evtsPerChunk = 5)
      for (proc <- Seq("a", "b")) {
        val p = w.newProcess(proc)
        for (e <- 0 until 10) {
          val b = p.newEvent()
          mkEvent(b, n = 3 + e % 2, seedBase = e.toLong)
          p.commitEvent(b)
        }
      }
      w.close()
    }
    // one-time class and filesystem set-up forks, whichever specs ran before
    ingest(dir + "-forkwarm")
    val d = dir + "-nofork" // 2 processes x 2 chunks
    val recording = new jdk.jfr.Recording()
    val dump = Files.createTempFile(Paths.get("target"), "ingest", ".jfr")
    val forks = try {
      recording.enable("jdk.ProcessStart")
      recording.start()
      try ingest(d) finally recording.stop()
      recording.dump(dump)
      jdk.jfr.consumer.RecordingFile.readAllEvents(dump).asScala.map(_.getString("command")).toSeq
    } finally { recording.close(); Files.delete(dump) }
    assert(forks.isEmpty, s"ingest forked ${forks.size} processes: ${forks.take(3)}")
    // Hadoop's default umask, 022, on every directory and file (data, .crc, sidecar)
    val entries = Files.walk(Paths.get(d))
    val modes = try entries.iterator.asScala.map { f =>
      (f, Files.isDirectory(f), PosixFilePermissions.toString(Files.getPosixFilePermissions(f)))
    }.toSeq finally entries.close()
    // the root, 5 tables, and 2 process and 4 chunk directories in each of 4
    assert(modes.count(_._2) == 1 + 5 + 4 * (2 + 4), "directories")
    for ((f, isDir, mode) <- modes)
      assert(mode == (if (isDir) "rwxr-xr-x" else "rw-r--r--"), f)
  }

  test("a 2,048-chunk store: open and first lookup start no job and list one chunk") {
    val d = dir + "-wide"
    val w = new HepWriter(spark, d, evtsPerChunk = 1)
    val p = w.newProcess("wide")
    for (e <- 0 until 2048) {
      val b = p.newEvent()
      b.setPdg(Array(11, 13, e)).setMask("final", Array(true, false, true))
      p.commitEvent(b)
    }
    w.close()
    val j0 = jobs()
    val (pdg, seen) = reads(new HepReader(spark, d).process("wide").event(1500).pdg.collect())
    assert(jobs() - j0 == 0, s"open and first lookup started ${jobs() - j0} jobs")
    assert(pdg.map(_.getInt(1)).sorted.toSeq == Seq(11, 13, 1500))
    // `processes` and the looked-up chunk: one listing and one footer each
    val chunkDir = s"$ParticlesTable/process=wide/chunk=1500"
    val listed = seen.filterNot(_.getName.endsWith(".parquet"))
    assert(seen.size == 4 && listed.size == 2 && listed.head.getName == ProcessesTable &&
      listed(1).toString.endsWith(chunkDir) &&
      seen.last.getParent.toString.endsWith(chunkDir), seen.mkString("\n"))
  }
}
