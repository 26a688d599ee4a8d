package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Particle-kinematics column functions over the `pmu STRUCT<x,y,z,e>`
  * 4-momentum (reference stores the raw components only,
  * `heparchy/write/hdf.py:329-337`; derived kinematics are left to client
  * numpy code — here they are first-class codegen'd column expressions).
  *
  * All are `functions._` compositions (SURVEY.md §7: composition first,
  * custom Expression only if the bench demands) — they fuse into
  * whole-stage codegen with the scan.
  */
object Kinematics {

  /** Transverse momentum: √(x² + y²). */
  def pt(pmu: Column): Column =
    sqrt(pmu("x") * pmu("x") + pmu("y") * pmu("y"))

  /** Azimuthal angle φ ∈ (-π, π]. */
  def phi(pmu: Column): Column = atan2(pmu("y"), pmu("x"))

  /** Pseudorapidity η = asinh(z / pT); NULL when pT = 0 (undefined on the
    * beam axis — and ANSI mode would otherwise raise DIVIDE_BY_ZERO).
    */
  def eta(pmu: Column): Column = {
    val p = pt(pmu)
    asinh(when(p === 0.0, lit(null)).otherwise(pmu("z") / p))
  }

  /** Rapidity y = ½ ln((e+z)/(e−z)). */
  def rapidity(pmu: Column): Column =
    lit(0.5) * log((pmu("e") + pmu("z")) / (pmu("e") - pmu("z")))

  /** Invariant mass: √max(e² − |p|², 0) (clamped against fp drift). */
  def mass(pmu: Column): Column =
    sqrt(greatest(
      pmu("e") * pmu("e") -
        (pmu("x") * pmu("x") + pmu("y") * pmu("y") + pmu("z") * pmu("z")),
      lit(0.0)))

  /** Energy component. */
  def energy(pmu: Column): Column = pmu("e")

  /** Δφ wrapped into [-π, π): a difference of exactly π gives -π (ΔR,
    * which squares it, is the same either way).
    */
  def deltaPhi(a: Column, b: Column): Column = {
    val d = phi(a) - phi(b)
    val twoPi = lit(2.0 * math.Pi)
    d - twoPi * floor((d + lit(math.Pi)) / twoPi)
  }

  /** ΔR = √(Δη² + Δφ²) — the standard cone distance. */
  def deltaR(a: Column, b: Column): Column = {
    val de = eta(a) - eta(b)
    val dp = deltaPhi(a, b)
    sqrt(de * de + dp * dp)
  }

  /** Sum of 4-momenta over a group: struct of component sums (use inside
    * `agg`); the summed system's mass/pt follow by applying the scalar
    * functions to the result.
    */
  def pmuSum(pmu: Column): Column =
    struct(
      sum(pmu("x")).as("x"), sum(pmu("y")).as("y"),
      sum(pmu("z")).as("z"), sum(pmu("e")).as("e"))
}
