package graft.hep

import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

class HepMaintenanceSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = graft.EngineSession.local("4")
  override def afterAll(): Unit = spark.stop()

  test("compact collapses per-flush small files, preserves data + addressing") {
    val dir = Files.createTempDirectory(
      java.nio.file.Paths.get("target"), "hepcompact").toString + "/store"
    // evtsPerChunk=5 over 40 events → 8 chunks
    val w = new HepWriter(spark, dir, evtsPerChunk = 5)
    val p = w.newProcess("proc")
    for (e <- 0 until 40) {
      val b = p.newEvent()
      b.setPdg(Array.tabulate(3)(i => e * 10 + i))
      p.commitEvent(b)
    }
    w.close()
    // the writer leaves one file per chunk; fragment particles the way
    // writers that wrote one file per input slice did: a round-robin
    // repartition(4) spreads every chunk over four task files
    val frag = dir + "-frag"
    spark.read.parquet(s"$dir/particles").repartition(4)
      .write.partitionBy("process", "chunk").parquet(frag)
    val particlesDir = new java.io.File(s"$dir/particles")
    org.apache.commons.io.FileUtils.deleteDirectory(particlesDir)
    org.apache.commons.io.FileUtils.moveDirectory(new java.io.File(frag), particlesDir)

    val beforeRows = spark.read.parquet(s"$dir/particles")
      .orderBy("event_id", "idx").collect().map(_.toString).toSeq
    val (before, after) = HepMaintenance.compact(spark, dir, "particles")
    assert(before > 8, s"expected several small files, found $before")
    assert(after == 8, s"one file per (process, chunk) dir, found $after")

    // data identical, reader + chunk addressing intact
    val afterRows = spark.read.parquet(s"$dir/particles")
      .orderBy("event_id", "idx").collect().map(_.toString).toSeq
    assert(afterRows == beforeRows)
    val r = new HepReader(spark, dir)
    assert(r.evtsPerChunk == 5)
    val ev = r.process("proc").event(23) // chunk 23/5 = 4
    assert(ev.count == 3)
    assert(ev.pdg.orderBy("idx").collect().map(_.getInt(1)).toSeq ==
      Seq(230, 231, 232))
  }

  test("compactStore covers every member table; absent tables are a no-op") {
    val dir = Files.createTempDirectory(
      java.nio.file.Paths.get("target"), "hepcompact2").toString + "/store"
    val w = new HepWriter(spark, dir, evtsPerChunk = 4)
    val p = w.newProcess("x")
    for (e <- 0 until 8) {
      val b = p.newEvent()
      b.setPdg(Array(1, 2))
      b.setEdges(Array((0, 1)))
      p.commitEvent(b)
    }
    w.close()
    val report = HepMaintenance.compactStore(spark, dir)
    assert(report(Schemas.ParticlesTable)._2 == 2) // 2 chunks
    assert(report(Schemas.EdgesTable)._2 == 2)
    assert(report(Schemas.CustomTable) == ((0, 0))) // never written → no-op
    // store still opens and finalized counts hold
    assert(new HepReader(spark, dir).process("x").length == 8)
  }
}
