package graft.hep

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Key-format scalar functions of the reference (`heparchy/utils.py:7-14`),
  * provided both as pure Scala functions and as Catalyst column
  * expressions (SURVEY.md §2.7 X1/X2).
  */
object Keys {

  /** `evt-{n % cpk:0{pad}d}`, pad = max(1, ⌈log10(evts_per_chunk)⌉)
    * (reference `utils.py:7-10`; pad(1000)=3 → `evt-000`…`evt-999`).
    * At cpk = 1 the reference's `:00d` still prints one digit (`evt-0`),
    * hence the floor of 1.
    */
  def eventKey(evtNum: Long, evtsPerChunk: Int): String =
    s"evt-%0${pad(evtsPerChunk)}d".format(evtNum % evtsPerChunk)

  private def pad(evtsPerChunk: Int): Int =
    math.max(1, math.ceil(math.log10(evtsPerChunk.toDouble)).toInt)

  /** `evt-set-{chunk:06d}` (reference `utils.py:13-14`). */
  def chunkKey(chunkNum: Long): String = f"evt-set-$chunkNum%06d"

  /** Column form of [[eventKey]]. */
  def eventKeyCol(eventId: Column, evtsPerChunk: Int): Column =
    concat(lit("evt-"),
      lpad((eventId % evtsPerChunk).cast("string"), pad(evtsPerChunk), "0"))

  /** Column form of [[chunkKey]]. */
  def chunkKeyCol(chunk: Column): Column =
    concat(lit("evt-set-"), lpad(chunk.cast("string"), 6, "0"))

  /** Chunk number of an event (`divmod` addressing, `read/hdf.py:454-466`). */
  def chunkOf(eventId: Long, evtsPerChunk: Int): Long = eventId / evtsPerChunk
}
