package perfbench

/** Checks of the benchmark's own result checks, run by
  * `perfbench/tests/test_perfbench.py`: a correct lookup passes, and a
  * lookup with a dropped or altered row is reported as a failure.
  * Exits non-zero on the first check that does not hold.
  */
object SelfTest {
  def main(args: Array[String]): Unit = {
    val e = HepGen.events(7L, 0, 1).head
    val rows = e.fin.indices.filter(e.fin).map(i => i -> e.pdg(i))
    val cases = Seq(
      "correct lookup passes" -> HepGen.checkLookup(e, rows).isEmpty,
      "dropped lookup row fails" -> HepGen.checkLookup(e, rows.drop(1)).nonEmpty,
      "altered pdg fails" ->
        HepGen.checkLookup(e, rows.updated(0, rows.head._1 -> (rows.head._2 + 1))).nonEmpty,
      "reference BFS is depth-bounded" -> {
        val chain = GenEvent(Array.empty, Array(0, 0, 0, 0), Array.empty, Array.empty,
          Array(0 -> 1, 1 -> 2, 2 -> 3))
        HepGen.descendants(chain, 0, 2) == 2 && HepGen.descendants(chain, 0, 8) == 3
      })
    for ((name, ok) <- cases) {
      println(s"${if (ok) "PASS" else "FAIL"} $name")
      if (!ok) sys.exit(1)
    }
  }
}
