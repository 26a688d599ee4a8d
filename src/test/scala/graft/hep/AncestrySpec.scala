package graft.hep

import org.apache.spark.scheduler.graftaccess.Jobs
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.LongType
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

class AncestrySpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = graft.EngineSession.local("4")
  override def afterAll(): Unit = spark.stop()

  // diamond DAG with a tail: 0→1, 0→2, 1→3, 2→3, 3→4
  private lazy val edges = {
    import spark.implicits._
    Seq((0, 1), (0, 2), (1, 3), (2, 3), (3, 4))
      .map { case (s, t) => ("p", 0L, s, t, 1.0) }
      .toDF("process", "event_id", "src", "dst", "weight")
  }

  private def verts(vs: Int*) = {
    import spark.implicits._
    vs.map(v => ("p", 0L, v)).toDF("process", "event_id", "vtx")
  }

  private def vtxSet(df: org.apache.spark.sql.DataFrame): Set[Int] =
    df.collect().map(_.getAs[Int]("vtx")).toSet

  test("children and parents") {
    assert(vtxSet(Ancestry.children(edges, verts(0))) == Set(1, 2))
    assert(vtxSet(Ancestry.parents(edges, verts(3))) == Set(1, 2))
    assert(vtxSet(Ancestry.children(edges, verts(4))) == Set.empty)
  }

  test("descendants bounded by depth") {
    assert(vtxSet(Ancestry.descendants(edges, verts(0), 1)) == Set(1, 2))
    assert(vtxSet(Ancestry.descendants(edges, verts(0), 2)) == Set(1, 2, 3))
    assert(vtxSet(Ancestry.descendants(edges, verts(0), 10)) == Set(1, 2, 3, 4))
  }

  test("descendants from multiple roots, diamond converges once") {
    val d = Ancestry.descendants(edges, verts(1, 2), 10)
    assert(vtxSet(d) == Set(3, 4))
  }

  test("deep chain: depth-30 walk completes without plan blow-up") {
    import spark.implicits._
    // a 31-vertex path graph is 30 hops deep: a walk that joined once per
    // hop would build a 30-deep plan and re-compute the whole prefix each
    // hop (O(d^2) blow-up); the per-event walk's plan is depth-independent
    val chain = (0 until 30)
      .map(i => ("p", 0L, i, i + 1, 1.0))
      .toDF("process", "event_id", "src", "dst", "weight")
    val d = Ancestry.descendants(chain, verts(0), 40)
    assert(vtxSet(d) == (1 to 30).toSet)
    // and the depth bound still truncates the same walk
    assert(vtxSet(Ancestry.descendants(chain, verts(0), 5)) == (1 to 5).toSet)
  }

  test("cycle-safe: traversal terminates on a cyclic graph") {
    import spark.implicits._
    val cyc = Seq((0, 1), (1, 2), (2, 0))
      .map { case (s, t) => ("p", 0L, s, t, 1.0) }
      .toDF("process", "event_id", "src", "dst", "weight")
    // roots are excluded from the result even when reachable via the cycle
    assert(vtxSet(Ancestry.descendants(cyc, verts(0), 100)) == Set(1, 2))
  }

  test("a LONG root column matches the INT edge ids") {
    val d = Ancestry.descendants(edges, verts(0).withColumn("vtx", col("vtx").cast("long")), 10)
    assert(d.schema("vtx").dataType == LongType)
    assert(d.collect().map(_.getAs[Long]("vtx")).toSet == Set(1L, 2L, 3L, 4L))
  }

  test("the walk starts the same number of jobs at depth 1 and 30") {
    import spark.implicits._
    val chain = (0 until 30)
      .map(i => ("p", 0L, i, i + 1, 1.0))
      .toDF("process", "event_id", "src", "dst", "weight")
    def jobs(depth: Int): Int = {
      val before = Jobs.submitted(spark.sparkContext)
      assert(vtxSet(Ancestry.descendants(chain, verts(0), depth)) == (1 to depth).toSet)
      Jobs.submitted(spark.sparkContext) - before
    }
    assert(jobs(1) == jobs(30))
  }

  test("random multi-event graphs match a plain-Scala BFS at depths 0-5") {
    import spark.implicits._
    // level-by-level reference: depth d adds the unvisited heads of edges
    // whose tail is on level d-1; roots are never part of the result
    def reference(edges: Seq[(String, Long, Int, Int)], roots: Seq[(String, Long, Int)],
        depth: Int): Set[(String, Long, Int)] =
      roots.groupBy(r => (r._1, r._2)).toSeq.flatMap { case ((p, e), rs) =>
        val start = rs.map(_._3).toSet
        val reached = (1 to depth).foldLeft((start, start)) { case ((seen, level), _) =>
          val next = edges.collect { case (`p`, `e`, s, d) if level(s) && !seen(d) => d }.toSet
          (seen ++ next, next)
        }._1 -- start
        reached.map(v => (p, e, v))
      }.toSet

    for (seed <- Seq(11L, 12L, 13L)) {
      val rnd = new scala.util.Random(seed)
      // both processes number their events 0-3 and their vertices 0-7, so
      // any walk that leaks across events or processes reaches extra ids;
      // event 3 has no edges. Random pairs give cycles and self-loops.
      val random = for {
        p <- Seq("a", "b"); e <- 0L to 2L; _ <- 0 until 6 + rnd.nextInt(8)
      } yield (p, e, rnd.nextInt(8), rnd.nextInt(8))
      val (p0, e0, s0, d0) = random.head
      val edges = random :+ ((p0, e0, d0, d0)) // a self-loop on a root
      val picked = for {
        p <- Seq("a", "b"); e <- 0L to 3L; _ <- 0 until 1 + rnd.nextInt(3)
      } yield (p, e, rnd.nextInt(8))
      // a duplicate root, and a root that another root reaches in one hop
      val roots = picked ++ Seq(picked.head, (p0, e0, s0), (p0, e0, d0))
      val edgeDf = edges.map { case (p, e, s, d) => (p, e, s, d, 1.0) }
        .toDF("process", "event_id", "src", "dst", "weight")
      val rootDf = roots.toDF("process", "event_id", "vtx")
      for (depth <- 0 to 5) {
        val got = Ancestry.descendants(edgeDf, rootDf, depth).as[(String, Long, Int)].collect()
        val want = reference(edges, roots, depth)
        assert(got.length == got.toSet.size, s"seed $seed depth $depth: duplicate rows")
        assert(got.toSet == want, s"seed $seed depth $depth")
      }
    }
  }
}
