package graft.hep

import scala.collection.mutable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.ArrayType

/** Traversal operators over the per-event ancestry DAG (`edges` table:
  * process, event_id, src, dst, weight). The reference stores the COO edge
  * list but offers no traversal (SURVEY.md §2.6). `children`/`parents` are
  * GraphFrames-style equi-joins on (process, event_id, vertex), which
  * co-partition with the edges table's layout; `descendants` walks each
  * event's DAG inside one row.
  */
object Ancestry {

  /** Renames the vertex side so an edge self-join never produces ambiguous
    * attributes (the vertex set may itself derive from the edges table).
    */
  private def renamed(vertices: DataFrame): DataFrame =
    vertices.select(col("process").as("v_process"),
      col("event_id").as("v_event_id"), col("vtx").as("v_vtx"))

  private def hop(edges: DataFrame, vertices: DataFrame,
      from: String, to: String): DataFrame =
    edges.join(renamed(vertices),
        col("process") === col("v_process") &&
          col("event_id") === col("v_event_id") &&
          col(from) === col("v_vtx"))
      .select(col("process"), col("event_id"), col(to).as("vtx"))
      .distinct()

  /** Direct children of `vertices` ((process, event_id, vtx)) per event. */
  def children(edges: DataFrame, vertices: DataFrame): DataFrame =
    hop(edges, vertices, "src", "dst")

  /** Direct parents of `vertices` per event. */
  def parents(edges: DataFrame, vertices: DataFrame): DataFrame =
    hop(edges, vertices, "dst", "src")

  /** All vertices reachable from `roots` ((process, event_id, vtx)) within
    * `maxDepth` hops, roots excluded — even when another root reaches them.
    *
    * Each event's DAG is independent of every other's (PAPER.md §1.1), so
    * the walk runs per event in one pass: the roots are grouped per event,
    * the edges are semi-joined to those events and grouped into one
    * adjacency row per event, and a multi-source BFS with a visited set
    * runs inside that row. The plan does not grow with depth, and cycles
    * terminate because a vertex is entered once. An event's edge list must
    * fit in one row (events are bounded in size by physics, as
    * [[graft.sources.HepMcIngest]] also assumes). Vertex ids are walked as
    * LONG, so a root column of a wider integer type still matches the
    * INT edge ids; `vtx` keeps the type the two widen to.
    */
  def descendants(edges: DataFrame, roots: DataFrame, maxDepth: Int): DataFrame = {
    val event = Seq("process", "event_id")
    val walk = udf { (starts: Seq[Long], src: Seq[Long], dst: Seq[Long]) =>
      val adj = src.zip(dst).groupMap(_._1)(_._2)
      val seen = mutable.HashSet.from(starts)
      val out = mutable.ArrayBuffer.empty[Long]
      var frontier = starts
      var depth = 0
      while (depth < maxDepth && frontier.nonEmpty) {
        frontier = frontier.flatMap(adj.getOrElse(_, Nil)).filter(seen.add)
        out ++= frontier
        depth += 1
      }
      out.toSeq
    }
    val rootSets = roots.groupBy(event.map(col): _*)
      .agg(collect_set(col("vtx").cast("long")).as("starts"))
    val adjacency = edges.filter(col("src").isNotNull && col("dst").isNotNull)
      .join(rootSets, event, "left_semi")
      .groupBy(event.map(col): _*)
      .agg(collect_list(struct(col("src").cast("long").as("src"),
        col("dst").cast("long").as("dst"))).as("adj"))
    val vtxType = roots.select("vtx").union(edges.select("dst")).schema.head.dataType
    rootSets.join(adjacency, event)
      .select(col("process"), col("event_id"),
        explode(walk(col("starts"), col("adj.src"), col("adj.dst"))
          .cast(ArrayType(vtxType))).as("vtx"))
  }
}
