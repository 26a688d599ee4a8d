package perfbench

import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.functions.Kinematics
import graft.hep.{Ancestry, HepReader, HepWriter}
import graft.hep.Schemas.Pmu

/** Seeded hierarchical events: each event has `Particles` particles, a
  * parent-edge DAG (every particle after the two beams has one or two
  * parents of lower index, so the graph is acyclic) and a `final` mask
  * marking the DAG's leaves.
  */
final case class GenEvent(pmu: Array[Pmu], pdg: Array[Int],
    status: Array[Short], fin: Array[Boolean], edges: Array[(Int, Int)]) {
  def children: Array[Array[Int]] = {
    val ch = Array.fill(pdg.length)(mutable.ArrayBuffer.empty[Int])
    edges.foreach { case (s, d) => ch(s) += d }
    ch.map(_.toArray)
  }
}

object HepGen {
  val Particles = (20, 100)
  private val Pdgs = Array(1, -1, 2, -2, 21, 11, -11, 13, -13, 22, 211, -211, 111, 2212)

  def events(seed: Long, process: Int, n: Int): Vector[GenEvent] = {
    val rng = new SplittableRandom(seed * 1000003L + process)
    Vector.fill(n) {
      val np = Particles._1 + rng.nextInt(Particles._2 - Particles._1 + 1)
      val edges = mutable.ArrayBuffer.empty[(Int, Int)]
      for (i <- 2 until np) {
        val p1 = rng.nextInt(i)
        edges += (p1 -> i)
        if (rng.nextDouble() < 0.25) {
          val p2 = rng.nextInt(i)
          if (p2 != p1) edges += (p2 -> i)
        }
      }
      val hasChild = new Array[Boolean](np)
      edges.foreach { case (s, _) => hasChild(s) = true }
      val pdg = Array.tabulate(np)(i => if (i < 2) 2212 else Pdgs(rng.nextInt(Pdgs.length)))
      val pmu = Array.tabulate(np) { _ =>
        val (x, y, z) = (rng.nextDouble() * 40 - 20, rng.nextDouble() * 40 - 20,
          rng.nextDouble() * 200 - 100)
        val m = rng.nextDouble() * 5
        Pmu(x, y, z, math.sqrt(x * x + y * y + z * z + m * m))
      }
      val fin = Array.tabulate(np)(i => !hasChild(i))
      val status = Array.tabulate(np)(i =>
        (if (i < 2) 4 else if (fin(i)) 1 else 2).toShort)
      GenEvent(pmu, pdg, status, fin, edges.toArray)
    }
  }

  /** Order-insensitive checksum of an event's final particles. */
  def finalChecksum(idxPdg: Iterable[(Int, Int)]): Long =
    idxPdg.map { case (i, p) => (p.toLong * 1000003L) ^ (i.toLong * 7919L) }.sum

  /** Checks a point lookup's (idx, pdg) rows against the event's final
    * particles: same count and same checksum.
    */
  def checkLookup(e: GenEvent, got: Seq[(Int, Int)]): Option[String] = {
    val want = e.fin.indices.filter(e.fin).map(i => i -> e.pdg(i))
    if (got.length == want.length && finalChecksum(got) == finalChecksum(want)) None
    else Some(s"${got.length} final particles (checksum ${finalChecksum(got)}), " +
      s"want ${want.length} (checksum ${finalChecksum(want)})")
  }

  /** Plain-Scala reference for `Ancestry.descendants`: vertices reachable
    * from `root` in at most `depth` hops, the root excluded.
    */
  def descendants(ev: GenEvent, root: Int, depth: Int): Int = {
    val ch = ev.children
    val seen = mutable.Set(root)
    var frontier = Seq(root)
    var d = 0
    while (d < depth && frontier.nonEmpty) {
      frontier = frontier.flatMap(v => ch(v)).distinct.filterNot(seen)
      seen ++= frontier
      if (frontier.nonEmpty) d += 1
    }
    seen.size - 1
  }
}

/** The `hep-store` workload: one client repeats rounds of
  *   ingest (a fresh store, `HepWriter` streaming builder),
  *   point lookups of random (process, event) keys (`HepReader`),
  *   one analysis pass: a final-state kinematics aggregate and a
  *   depth-bounded `Ancestry.descendants` from random roots.
  * Every operation's result is checked against values derived from the
  * generator.
  */
final class HepStore(spark: SparkSession, trace: Trace, rec: Recorder,
    seed: Long, workDir: String) {
  import HepStore._
  import spark.implicits._

  private val procNames = Seq("higgs", "top")
  private val events: Map[String, Vector[GenEvent]] =
    procNames.zipWithIndex.map { case (p, i) =>
      p -> HepGen.events(seed, i, EventsPerProcess)
    }.toMap
  private val rng = new SplittableRandom(seed ^ 0x5eedL)
  private var storeNo = 0

  /** Store size per ingest and rows returned by traced lookups, for the
    * per-layer figures.
    */
  var ingests = 0
  var filesWritten = 0L
  var bytesWritten = 0L
  var rowsReturned = 0L
  def totalEvents: Int = EventsPerProcess * procNames.size

  private def recordStore(path: String): Unit = {
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get(path))
    try files.filter(p => p.toString.endsWith(".parquet")).forEach { p =>
      filesWritten += 1
      bytesWritten += java.nio.file.Files.size(p)
    } finally files.close()
    ingests += 1
  }

  private def ingest(path: String): Unit = {
    val w = trace.span("HepWriter.new")(new HepWriter(spark, path, EventsPerChunk))
    for (p <- procNames) {
      val pb = w.newProcess(p).setProcessString(s"p p > $p")
        .setSignalPdgs(Seq(25)).setComEnergy(13000.0, "GeV")
      trace.span("HepWriter.commit") {
        pb.eventIter(events(p)) { (b, e) =>
          b.setPmu(e.pmu).setPdg(e.pdg).setStatus(e.status).setMask("final", e.fin)
          b.setEdges(e.edges)
          ()
        }
      }
    }
    trace.span("HepWriter.close")(w.close())
  }

  /** Per-process event counts as the store reports them. */
  private def checkIngest(r: HepReader): Option[String] = {
    val got = r.processes.collect().map(m => m.process -> m.num_evts).toMap
    val want = procNames.map(_ -> EventsPerProcess.toLong).toMap
    if (got == want) None else Some(s"ingest: process counts $got != $want")
  }

  private def lookup(r: HepReader): Check = {
    val p = procNames(rng.nextInt(procNames.size))
    val id = rng.nextInt(EventsPerProcess)
    val pr = trace.span("HepReader.process")(r.process(p))
    val ev = trace.span("HepReader.event")(pr.event(id.toLong))
    val rows = trace.span("HepReader.collect")(
      ev.finalParticles.select("idx", "pdg").collect())
    if (trace.isActive) rowsReturned += rows.length
    () => HepGen.checkLookup(events(p)(id), rows.map(x => x.getInt(0) -> x.getInt(1)).toSeq)
      .map(d => s"lookup $p/$id: $d")
  }

  private def kinematics(r: HepReader): Check = {
    val parts = trace.span("HepReader.process")(procNames.map(r.process(_)))
      .map(_.particles).reduce(_ unionByName _)
    val rows = trace.span("Kinematics.scan") {
      parts.where(col("fin"))
        .groupBy(col("process"), col("event_id"))
        .agg(Kinematics.pmuSum(col("pmu")).as("sys"))
        .groupBy("process")
        .agg(count(lit(1)), sum(Kinematics.mass(col("sys"))),
          sum(Kinematics.pt(col("sys"))))
        .collect()
    }
    () => {
      val got = rows.map(x =>
        x.getString(0) -> ((x.getLong(1), x.getDouble(2), x.getDouble(3)))).toMap
      procNames.flatMap { p =>
        val (k, m, pt) = expectedKinematics(p)
        got.get(p) match {
          case Some((gk, gm, gpt)) if gk == k && close(gm, m) && close(gpt, pt) => None
          case g => Some(s"kinematics $p: $g, want ($k, $m, $pt)")
        }
      }.headOption
    }
  }

  /** Per process: (events, summed system mass, summed system pT) of the
    * final state.
    */
  private lazy val expectedKinematics: Map[String, (Long, Double, Double)] =
    procNames.map { p =>
      var (m, pt) = (0.0, 0.0)
      for (e <- events(p)) {
        val f = e.pmu.indices.filter(e.fin).map(e.pmu)
        val (x, y, z, en) = (f.map(_.x).sum, f.map(_.y).sum, f.map(_.z).sum, f.map(_.e).sum)
        m += math.sqrt(math.max(en * en - (x * x + y * y + z * z), 0.0))
        pt += math.sqrt(x * x + y * y)
      }
      p -> ((events(p).size.toLong, m, pt))
    }.toMap

  private def close(a: Double, b: Double): Boolean =
    math.abs(a - b) <= KinematicsRelTol * math.max(1.0, math.abs(b))

  private def ancestry(r: HepReader): Check = {
    val roots = Seq.fill(Roots) {
      (procNames(rng.nextInt(procNames.size)), rng.nextInt(EventsPerProcess).toLong)
    }.distinct
    val edges = trace.span("HepReader.process")(procNames.map(r.process(_)))
      .map(_.edges).reduce(_ unionByName _)
    val rootDf = roots.map { case (p, id) => (p, id, 0) }.toDF("process", "event_id", "vtx")
    val rows = trace.span("Ancestry.descendants") {
      Ancestry.descendants(edges, rootDf, Depth)
        .groupBy("process", "event_id").count().collect()
    }
    () => {
      val got = rows.map(x => (x.getString(0), x.getLong(1)) -> x.getLong(2)).toMap
      val want = roots.map { case (p, id) =>
        (p, id) -> HepGen.descendants(events(p)(id.toInt), 0, Depth).toLong
      }.filter(_._2 > 0).toMap
      if (got == want) None
      else Some(s"ancestry: ${got.size} roots with descendants, want ${want.size}; " +
        s"first difference ${(want.toSet diff got.toSet).headOption}")
    }
  }

  /** One timed pass: ingest, lookups and the analysis pass on a fresh store. */
  def round(): Unit = rec.pass(ops())

  /** The untimed warm-up: the same operations on a store of its own. */
  def warmUp(): Unit = {
    ops()
    ingests = 0; filesWritten = 0; bytesWritten = 0; rowsReturned = 0
  }

  private def ops(): Unit = {
    val path = s"$workDir/store-$storeNo"
    storeNo += 1
    lazy val r = new HepReader(spark, path)
    rec.op("ingest") { ingest(path); () => { recordStore(path); checkIngest(r) } }
    for (_ <- 1 to LookupsPerRound) rec.op("lookup", sample = true)(lookup(r))
    rec.op("kinematics")(kinematics(r))
    rec.op("ancestry")(ancestry(r))
  }
}

object HepStore {
  val EventsPerProcess = 32
  val EventsPerChunk = 16
  val LookupsPerRound = 12
  val Roots = 32
  val Depth = 3
  val KinematicsRelTol = 1e-9
}
