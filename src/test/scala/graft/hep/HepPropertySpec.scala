package graft.hep

import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import Schemas._

/** Property-based round-trip (SURVEY.md §5 test plan item 1): random
  * events — varying particle counts, masks, edges, custom data — written
  * through the facade must read back exactly, and the reference's
  * invariants must hold under generated inputs. ScalaCheck generators are
  * driven with fixed seeds (only scalatest+scalacheck are resolvable
  * offline; no scalatestplus bridge).
  */
class HepPropertySpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = graft.EngineSession.local("4")
  override def afterAll(): Unit = spark.stop()

  private val params = Gen.Parameters.default

  private def sample[T](g: Gen[T], seed: Long): T =
    g.apply(params, Seed(seed)).getOrElse(sys.error("gen failed"))

  case class EvtData(
      n: Int, pdg: List[Int], finMask: List[Boolean], weights: List[Double])

  val evtGen: Gen[EvtData] = for {
    n <- Gen.choose(1, 12)
    pdg <- Gen.listOfN(n, Gen.choose(-2212, 2212))
    fin <- Gen.listOfN(n, Gen.oneOf(true, false))
    w <- Gen.listOfN(n, Gen.choose(0, 1000).map(_ / 8.0)) // dyadic = exact
  } yield EvtData(n, pdg, fin, w)

  test("random event batches round-trip exactly (3 seeded runs)") {
    for (seed <- 1L to 3L) {
      val evts = sample(Gen.listOfN(6, evtGen), seed)
      val dir = Files.createTempDirectory(
        java.nio.file.Paths.get("target"), "prop").toString
      val w = new HepWriter(spark, dir, evtsPerChunk = 4)
      val p = w.newProcess("prop").setProcessString("prop test")
      evts.foreach { e =>
        val b = p.newEvent()
        b.setPdg(e.pdg.toArray)
          .setPmu(Array.tabulate(e.n)(i => Pmu(i / 4.0, i / 2.0, i / 8.0, i + 1.0)))
          .setMask("final", e.finMask.toArray)
        b.setEdges(Array.tabulate(e.n)(i => (i, (i + 1) % e.n)))
        b.setEdgeWeights(e.weights.toArray)
        p.commitEvent(b)
      }
      w.close()

      val r = new HepReader(spark, dir)
      val proc = r.process("prop")
      assert(proc.length == evts.length)
      evts.zipWithIndex.foreach { case (e, i) =>
        val ev = proc.event(i.toLong)
        assert(ev.count == e.n.toLong, s"seed=$seed event=$i")
        val gotPdg = ev.pdg.orderBy("idx").collect().map(_.getInt(1)).toList
        assert(gotPdg == e.pdg, s"seed=$seed event=$i pdg")
        val gotFin = ev.finalMask.orderBy("idx").collect()
          .map(_.getBoolean(1)).toList
        assert(gotFin == e.finMask, s"seed=$seed event=$i mask")
        val gotW = ev.edges.orderBy("src").collect()
          .map(_.getAs[Double]("weight")).toList
        assert(gotW == e.weights, s"seed=$seed event=$i weights")
      }
    }
  }

  test("row-count invariant holds for generated mismatches") {
    for (seed <- 1L to 10L) {
      val (n1, n2) = sample(Gen.zip(Gen.choose(1, 10), Gen.choose(1, 10)), seed)
      if (n1 != n2) {
        val w = new HepWriter(spark, "target/prop-unused")
        val b = w.newProcess("x").newEvent()
        b.setPdg(Array.fill(n1)(1))
        intercept[IllegalArgumentException] {
          b.setStatus(Array.fill(n2)(1.toShort))
        }
      }
    }
  }

  test("event key format is total and consistent with chunk addressing") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val evts = (1L to 50L).map(seed => sample(Gen.choose(0L, 100000L), seed))
    for (cpk <- Seq(1, 7, 10, 100, 1000, 5000)) {
      for (evt <- evts) {
        val key = Keys.eventKey(evt, cpk)
        assert(key.startsWith("evt-"))
        assert(key.drop(4).toLong == evt % cpk)
        // fixed width: as many digits as the largest in-chunk number
        assert(key.drop(4).length == (cpk - 1).toString.length, key)
        assert(Keys.chunkOf(evt, cpk) == evt / cpk)
      }
      // the Column forms agree with the Scala forms row for row
      val rows = evts.map(e => (e, Keys.chunkOf(e, cpk))).toDF("evt", "chunk")
        .select(col("evt"), col("chunk"), Keys.eventKeyCol(col("evt"), cpk),
          Keys.chunkKeyCol(col("chunk")))
        .collect()
      assert(rows.length == evts.length)
      for (r <- rows) {
        assert(r.getString(2) == Keys.eventKey(r.getLong(0), cpk), s"cpk=$cpk")
        assert(r.getString(3) == Keys.chunkKey(r.getLong(1)), s"cpk=$cpk")
      }
    }
  }
}
