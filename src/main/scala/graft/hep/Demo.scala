package graft.hep

import org.apache.spark.sql.functions.col
import Schemas._

/** Runnable example of the hep facade (write → read, the reference's
  * README flow re-expressed): streaming-shaped ingest via `eventIter`,
  * then metadata, point-lookup, mask projection, and scan aggregation.
  *
  * Run: `runMain graft.hep.Demo [storeDir]`
  */
object Demo {
  def main(args: Array[String]): Unit = {
    val spark = graft.EngineSession.local("8")
    val dir = args.headOption.getOrElse("target/hepdemo-store")
    val root = new java.io.File(dir)
    if (root.exists()) {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm)
        f.delete()
      }
      rm(root)
    }

    val w = new HepWriter(spark, dir, evtsPerChunk = 5)
    val p = w.newProcess("zmumu")
      .setProcessString("p p > z , (z > mu+ mu-)")
      .setSignalPdgs(Seq(23))
      .setComEnergy(13600.0, "GeV")
    p.setDecay(Seq(2212, 2212), Seq(13, -13)): Unit // legacy migration surface
    // streaming-shaped ingest: generator → events (reference event_iter)
    p.eventIter(1 to 12) { (b, i) =>
      val n = 3 + (i % 2)
      b.setPmu(Array.tabulate(n)(j => Pmu(j * 0.1, j * 0.2, j * 0.3, j + 1.0)))
        .setPdg(Array.tabulate(n)(j => if (j < 2) 13 else 22))
        .setMask("final", Array.fill(n)(true))
      b.setEdges(Array.tabulate(n - 1)(j => (j, j + 1)))
      b.setEdgeWeights(Array.fill(n - 1)(1.0))
      // typed custom datasets: ints and 2-D ride their own columns
      b.setCustom("hit_ids", Array.tabulate(n)(j => (i * 100 + j).toLong))
      b.setCustom2d("cov", Array(Array(1.0, 0.1), Array(0.1, 1.0)))
      ()
    }
    w.close()

    val r = new HepReader(spark, dir)
    val proc = r.process("zmumu")
    println(s"DEMO process='${proc.processString}' n_events=${proc.length} " +
      s"cpk=${r.evtsPerChunk} com_e=${proc.comEnergy}")
    val ev = proc.event(11)
    println(s"DEMO event name=${ev.name} count=${ev.count}")
    println("DEMO muon energies of event 11:")
    ev.finalParticles.where(col("pdg") === 13)
      .select("idx", "pmu.e").orderBy("idx").show()
    println("DEMO per-event particle totals:")
    proc.particles.groupBy("event_id").count().orderBy("event_id").show(3)
    println("DEMO ancestry: descendants of vertex 0 in event 11:")
    import org.apache.spark.sql.functions.lit
    val roots = proc.edges.select(col("process"), col("event_id"))
      .where(col("event_id") === 11).distinct()
      .withColumn("vtx", lit(0))
    Ancestry.descendants(proc.edges, roots, maxDepth = 10)
      .orderBy("vtx").show()
    println("DEMO per-event summed-system kinematics (mass, pt) of final state:")
    import graft.functions.Kinematics
    proc.particles.where(col("fin"))
      .groupBy(col("event_id"))
      .agg(Kinematics.pmuSum(col("pmu")).as("sys"))
      .select(col("event_id"),
        Kinematics.mass(col("sys")).as("sys_mass"),
        Kinematics.pt(col("sys")).as("sys_pt"))
      .orderBy("event_id").show(3)
    println("DEMO typed custom data of event 11 (dtype-tagged):")
    ev.custom("hit_ids").show(1, truncate = false)
    println("DEMO small-files maintenance (compact; the writer already " +
      "leaves one file per chunk, so this store stays as it is):")
    val (nb, na) = HepMaintenance.compact(spark, dir, ParticlesTable)
    println(s"DEMO particles files: $nb -> $na")
    println(s"DEMO still addressable post-compact: event 11 count=" +
      new HepReader(spark, dir).process("zmumu").event(11).count)
    spark.stop()
  }
}
