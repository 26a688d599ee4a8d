package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import graft.hep.Schemas.Pmu

class KinematicsSpec extends AnyFunSuite with BeforeAndAfterAll
    with org.scalactic.Tolerance {

  lazy val spark: SparkSession = graft.EngineSession.local("4")
  override def afterAll(): Unit = spark.stop()

  private def one(p: Pmu): Map[String, Double] = {
    import spark.implicits._
    val pmu = col("pmu")
    Seq(Tuple1(p)).toDF("pmu").select(
      Kinematics.pt(pmu).as("pt"),
      Kinematics.phi(pmu).as("phi"),
      Kinematics.eta(pmu).as("eta"),
      Kinematics.mass(pmu).as("mass"),
      Kinematics.rapidity(pmu).as("y"))
      .collect().head.getValuesMap[Double](Seq("pt", "phi", "eta", "mass", "y"))
  }

  test("massless particle along +x: pt=e, phi=0, eta=0, mass=0") {
    val r = one(Pmu(5.0, 0.0, 0.0, 5.0))
    assert(r("pt") == 5.0)
    assert(r("phi") == 0.0)
    assert(r("eta") == 0.0)
    assert(r("mass") === 0.0 +- 1e-9)
  }

  test("particle at rest: mass = e") {
    val r = one(Pmu(0.0, 0.0, 0.0, 91.1876))
    assert(r("mass") === 91.1876 +- 1e-9)
    assert(r("pt") == 0.0)
  }

  test("known boost: eta and rapidity agree for massless") {
    // massless at 45 degrees in x-z: |p| = e
    val e = 10.0
    val x = e / math.sqrt(2); val z = e / math.sqrt(2)
    val r = one(Pmu(x, 0.0, z, e))
    assert(r("eta") === r("y") +- 1e-9) // eta == rapidity when massless
    assert(r("eta") === math.log(math.tan(math.Pi / 8)) * -1 +- 1e-9)
  }

  test("deltaPhi wraps across the -pi/pi boundary") {
    import spark.implicits._
    val a = Pmu(math.cos(3.0), math.sin(3.0), 0, 1)
    val b = Pmu(math.cos(-3.0), math.sin(-3.0), 0, 1)
    val d = Seq((a, b)).toDF("a", "b")
      .select(Kinematics.deltaPhi(col("a"), col("b")).as("d"))
      .collect().head.getDouble(0)
    // raw difference is 6.0; wrapped must be 6.0 - 2*pi (≈ -0.283)
    assert(d === (6.0 - 2 * math.Pi) +- 1e-9)
  }

  test("deltaPhi of exactly pi is -pi: the range is [-pi, pi)") {
    import spark.implicits._
    // phi(-x axis) = atan2(0, -1) = pi exactly, phi(+x axis) = 0
    val d = Seq((Pmu(-1, 0, 0, 1), Pmu(1, 0, 0, 1))).toDF("a", "b")
      .select(Kinematics.deltaPhi(col("a"), col("b")),
        Kinematics.deltaPhi(col("b"), col("a")))
      .collect().head
    assert(d.getDouble(0) == -math.Pi)
    assert(d.getDouble(1) == -math.Pi)
  }

  test("deltaR equals plain Scala on a few 4-vectors") {
    import spark.implicits._
    def eta(p: Pmu): Double = {
      val pt = math.hypot(p.x, p.y)
      math.log(p.z / pt + math.sqrt(p.z * p.z / (pt * pt) + 1))
    }
    def dR(a: Pmu, b: Pmu): Double = {
      var dphi = math.atan2(a.y, a.x) - math.atan2(b.y, b.x)
      while (dphi >= math.Pi) dphi -= 2 * math.Pi
      while (dphi < -math.Pi) dphi += 2 * math.Pi
      math.hypot(eta(a) - eta(b), dphi)
    }
    val pairs = Seq(
      (Pmu(1, 2, 3, 10), Pmu(-2, 1, -0.5, 10)),
      (Pmu(math.cos(3.0), math.sin(3.0), 0.4, 5), // across the -pi/pi seam
        Pmu(math.cos(-3.0), math.sin(-3.0), -1.2, 5)),
      (Pmu(-1, 0, 2, 5), Pmu(1, 0, -2, 5)), // back to back: dphi = pi
      (Pmu(3, 4, 0, 6), Pmu(3, 4, 5, 9))) // same phi
    val got = pairs.toDF("a", "b")
      .select(Kinematics.deltaR(col("a"), col("b")))
      .collect().map(_.getDouble(0)).toSeq
    assert(got.length == pairs.length)
    for (((a, b), r) <- pairs.zip(got))
      assert(r === dR(a, b) +- 1e-9, s"$a $b")
  }

  test("summed system mass: Z -> mu+ mu- back-to-back") {
    import spark.implicits._
    val mz = 91.1876
    val p = mz / 2
    val sys = Seq(Tuple1(Pmu(p, 0, 0, p)), Tuple1(Pmu(-p, 0, 0, p))).toDF("pmu")
      .agg(Kinematics.pmuSum(col("pmu")).as("sys"))
      .select(Kinematics.mass(col("sys")).as("m"))
      .collect().head.getDouble(0)
    assert(sys === mz +- 1e-9)
  }

}
