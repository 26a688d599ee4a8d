package graft.hep

import scala.collection.mutable
import org.apache.spark.sql.{SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import HepWriter.CustomData
import Schemas._

/** Write path of the hep facade (reference S7-S11, `write/hdf.py`).
  *
  * The reference's streaming-shaped contract — `new_process` → per-event
  * writer contexts fed by a generator (`write/hdf.py:493-516`) — maps to
  * builders that buffer events and flush one chunk at a time: every
  * `evtsPerChunk` events, each member table gets ONE parquet file in its
  * `(process, chunk)` directory, rows in the builder's `(event_id, idx)`
  * order. The chunk is the reference's `evt-set-{chunk}` unit
  * (`write/hdf.py:439-445`), so the layout does not depend on the writing
  * machine's core count, `chunk` partition pruning reproduces the
  * reference's O(1) `divmod` addressing (`read/hdf.py:454-466`), and
  * row-group statistics can skip inside a large chunk. It is also the
  * layout [[HepMaintenance.compact]] produces.
  *
  * A flush appends the chunk's member tables (particles, edges, events,
  * custom) concurrently through [[graft.Par.all]]: each leg writes its own
  * table root. Successive flushes, the processes in `close()` and the
  * `processes`/`_meta.json` finalization stay sequential, because two
  * appends into the SAME table root share `<root>/_temporary/0` and the
  * first job commit can delete the other's staged files.
  *
  * Validation reproduces the reference's write-time invariants (§2.3 F5):
  * the first particle column fixes `numPcls` and later columns must match
  * (`_set_num_pcls`, `write/hdf.py:268-282`); `edgeWeights` length must
  * equal `edges` length (`write/hdf.py:306-314`); masks count toward
  * `numPcls` (`write/hdf.py:98-110`).
  *
  * The reference writer stores process metadata on the wrong group (chunk
  * instead of process — SURVEY.md §3 "wart"); here process metadata lives
  * only in the `processes` table, matching the reference READER's
  * semantics (`read/hdf.py:437`), with a regression test.
  */
final class HepWriter(
    spark: SparkSession,
    path: String,
    evtsPerChunk: Int = DefaultEvtsPerChunk,
    compression: String = "zstd",
    compressionLevel: Option[Int] = None) {

  /** Codec-level writer options (reference S7 parity: `write/hdf.py:552-564`
    * exposes h5py's gzip level 1-9). Parquet's codec levels are reached
    * through the Hadoop conf keys the file-format writer merges from
    * DataFrameWriter options: zstd takes the numeric level directly
    * (parquet-hadoop's `parquet.compression.codec.zstd.level`, range
    * 1-22); Hadoop's zlib codec only exposes the three named levels, so a
    * 1-9 request maps to the nearest (1-3 → BEST_SPEED, 4-6 → DEFAULT,
    * 7-9 → BEST_COMPRESSION). Codecs without a level knob ignore it.
    */
  private val levelOpts: Map[String, String] = compressionLevel match {
    case None => Map.empty
    case Some(l) =>
      require(l >= 1 && (if (compression == "zstd") l <= 22 else l <= 9),
        s"compression level $l out of range for codec $compression")
      compression match {
        case "zstd" => Map("parquet.compression.codec.zstd.level" -> l.toString)
        case "gzip" => Map("zlib.compress.level" ->
          (if (l <= 3) "BEST_SPEED"
           else if (l <= 6) "DEFAULT_COMPRESSION"
           else "BEST_COMPRESSION"))
        case _ => Map.empty
      }
  }

  // Re-opening an existing store would corrupt it: close() would append a
  // second copy of every process's metadata row, and fresh processes restart
  // event_id at 0, colliding with existing (process, event_id) keys. This
  // covers a finalized store (_meta.json present), the debris of a writer
  // that crashed before close() (member dirs without the sidecar), AND a
  // path occupied by a regular file — appending over any of these silently
  // duplicates keys or fails opaquely later. The reference's h5py backing
  // has the same constraint (opening an existing file in "w" mode
  // truncates); here we refuse instead of truncating. Checked through the
  // path's Hadoop FileSystem so the guard holds on HDFS/S3, not just local
  // disk.
  require({
    val p = new org.apache.hadoop.fs.Path(path)
    val f = HadoopIo.fs(spark, path)
    !f.exists(p) ||
      (f.getFileStatus(p).isDirectory && f.listStatus(p).isEmpty)
  }, s"hep store path $path already contains data (a finalized store, a " +
    "crashed writer's partial output, or a non-directory); write to a " +
    "fresh path — in-place append is not supported")

  /** Builder for one event (reference `HdfEventWriter`). */
  final class EventBuilder private[HepWriter] (
      procKey: String, val eventId: Long) {
    private var numPcls: Option[Int] = None
    private[HepWriter] var pmu: Array[Pmu] = Array.empty
    private[HepWriter] var pdg: Array[Int] = Array.empty
    private[HepWriter] var status: Array[Short] = Array.empty
    private[HepWriter] var helicity: Array[Short] = Array.empty
    private[HepWriter] var color: Array[ColorPair] = Array.empty
    private[HepWriter] var edges: Array[(Int, Int)] = Array.empty
    private[HepWriter] var edgeWeights: Array[Double] = Array.empty
    private[HepWriter] val masks = mutable.LinkedHashMap.empty[String, Array[Boolean]]
    private[HepWriter] val custom = mutable.LinkedHashMap.empty[String, CustomData]
    private[HepWriter] val customMeta = mutable.LinkedHashMap.empty[String, String]

    private def checkCount(what: String, n: Int): Unit = numPcls match {
      case Some(m) =>
        require(n == m,
          s"$what has $n rows but event $eventId already fixed num_pcls=$m " +
            "(first-write capture, reference write/hdf.py:268-282)")
      case None => numPcls = Some(n)
    }

    def count: Int = numPcls.getOrElse(0)

    def setPmu(v: Array[Pmu]): this.type = { checkCount("pmu", v.length); pmu = v; this }
    def setPdg(v: Array[Int]): this.type = { checkCount("pdg", v.length); pdg = v; this }
    def setStatus(v: Array[Short]): this.type = { checkCount("status", v.length); status = v; this }
    def setHelicity(v: Array[Short]): this.type = { checkCount("helicity", v.length); helicity = v; this }
    def setColor(v: Array[ColorPair]): this.type = { checkCount("color", v.length); color = v; this }

    /** Edges are NOT length-checked against num_pcls (reference behavior). */
    def setEdges(v: Array[(Int, Int)]): this.type = { edges = v; this }

    def setEdgeWeights(v: Array[Double]): this.type = {
      require(v.length == edges.length,
        s"edge_weights has ${v.length} rows but edges has ${edges.length} " +
          "(reference write/hdf.py:306-314)")
      edgeWeights = v; this
    }

    /** Named boolean mask; counts toward num_pcls (reference `_mask_setter`). */
    def setMask(name: String, v: Array[Boolean]): this.type = {
      checkCount(s"mask '$name'", v.length); masks(name) = v; this
    }

    /** Named custom 1-D double dataset; NOT row-count-checked (reference
      * behavior, `write/hdf.py:113-124`: any dtype/shape passes through).
      */
    def setCustom(name: String, v: Array[Double]): this.type = {
      custom(name) = CustomData("f8", doubles = v); this
    }

    /** Named custom 1-D integer dataset — int custom data must not coerce
      * through doubles (lossy above 2^53).
      */
    def setCustom(name: String, v: Array[Long]): this.type = {
      custom(name) = CustomData("i8", longs = v); this
    }

    /** Named custom 2-D double dataset (ragged rows allowed, like numpy
      * object arrays through the reference's passthrough).
      */
    def setCustom2d(name: String, v: Array[Array[Double]]): this.type = {
      custom(name) = CustomData("f8_2d", grid = v); this
    }

    def setCustomMeta(name: String, v: String): this.type = { customMeta(name) = v; this }
  }

  /** Builder for one process (reference `HdfProcessWriter`). */
  final class ProcessBuilder private[HepWriter] (val key: String) {
    private[HepWriter] var processString: String = ""
    private[HepWriter] var signalPdgs: Seq[Int] = Nil
    private[HepWriter] var comE: Double = 0.0
    private[HepWriter] var eUnit: String = "GeV"
    private[HepWriter] var inPcls: Seq[Int] = Nil
    private[HepWriter] var outPcls: Seq[Int] = Nil
    private[HepWriter] val customMeta = mutable.LinkedHashMap.empty[String, String]
    private[HepWriter] var nextEventId: Long = 0L
    private[HepWriter] var numEvts: Long = 0L
    private val pending = mutable.ArrayBuffer.empty[EventBuilder]

    def setProcessString(s: String): this.type = { processString = s; this }
    def setSignalPdgs(p: Seq[Int]): this.type = { signalPdgs = p; this }
    def setComEnergy(e: Double, unit: String): this.type = { comE = e; eUnit = unit; this }
    def setCustomMeta(k: String, v: String): this.type = { customMeta(k) = v; this }

    /** Deprecated legacy surface (reference `write/hdf.py:447-465`
      * `decay` setter, itself deprecated in favour of `signal_pdgs`):
      * incoming/outgoing hard-process PDG lists, kept so migrated stores
      * preserve them.
      */
    @deprecated("use setSignalPdgs", "0.1.0")
    def setDecay(in: Seq[Int], out: Seq[Int]): this.type = {
      inPcls = in; outPcls = out; this
    }

    /** Opens the next event (monotonic event_id, like `_evt_idx`). */
    def newEvent(): EventBuilder = {
      ensureOpen()
      val b = new EventBuilder(key, nextEventId)
      nextEventId += 1
      b
    }

    /** Commits one finished event; flushes a chunk when full. */
    def commitEvent(b: EventBuilder): Unit = {
      ensureOpen()
      pending += b
      numEvts += 1
      if (pending.size >= evtsPerChunk) flush()
    }

    /** Streaming ingest (reference `event_iter`): one event per element. */
    def eventIter[T](source: IterableOnce[T])(
        fill: (EventBuilder, T) => Unit): Unit =
      source.iterator.foreach { item =>
        val b = newEvent()
        fill(b, item)
        commitEvent(b)
      }

    private[HepWriter] def flush(): Unit = {
      if (pending.isEmpty) return
      import spark.implicits._
      val evts = pending.toVector
      pending.clear()

      val particles = evts.flatMap { b =>
        val n = b.count
        def pm(i: Int) = if (i < b.pmu.length) b.pmu(i) else Pmu(0, 0, 0, 0)
        def cl(i: Int) = if (i < b.color.length) b.color(i) else ColorPair(0, 0)
        (0 until n).map { i =>
          Particle(key, b.eventId, i, pm(i),
            if (i < b.pdg.length) b.pdg(i) else 0,
            if (i < b.status.length) b.status(i) else 0,
            if (i < b.helicity.length) b.helicity(i) else 0,
            cl(i),
            b.masks.get("final").exists(_(i)),
            b.masks.view.filterKeys(_ != "final").map { case (k, v) => k -> v(i) }.toMap)
        }
      }
      val edgeRows = evts.flatMap { b =>
        b.edges.zipWithIndex.map { case ((s, t), i) =>
          EdgeRow(key, b.eventId, s, t,
            if (i < b.edgeWeights.length) b.edgeWeights(i) else 1.0)
        }
      }
      val eventRows = evts.map(b =>
        EventMeta(key, b.eventId, b.count.toLong, b.customMeta.toMap))
      val customRows = evts.flatMap(b =>
        b.custom.map { case (n, v) =>
          CustomRow(key, b.eventId, n, v.doubles.toSeq, v.dtype,
            v.longs.toSeq, v.grid.map(_.toSeq).toSeq)
        })

      // a flush holds exactly one chunk (event ids are monotonic and a
      // flush fires every evtsPerChunk events), so coalesce(1) writes one
      // file per (process, chunk) directory in the builder's row order
      def append[T <: Product : org.apache.spark.sql.Encoder](
          rows: Seq[T], table: String): () => Unit = () =>
        if (rows.nonEmpty)
          // per-store codec, the parquet counterpart of the reference's
          // per-dataset gzip/lzf choice (write/hdf.py:552-564); zstd default
          spark.createDataset(rows).toDF().coalesce(1)
            .withColumn("chunk", expr(s"event_id div $evtsPerChunk"))
            .write.mode(SaveMode.Append)
            .option("compression", compression)
            .options(levelOpts)
            .partitionBy("process", "chunk")
            .parquet(s"$path/$table")

      // the legs write disjoint table roots, so they may run concurrently;
      // two appends into one root share <root>/_temporary/0 and the first
      // job commit can delete the other's staged files, which is why
      // flushes themselves never overlap
      graft.Par.all(
        append(particles, ParticlesTable),
        append(edgeRows, EdgesTable),
        append(eventRows, EventsTable),
        append(customRows, CustomTable))
    }
  }

  private val procs = mutable.LinkedHashMap.empty[String, ProcessBuilder]
  private var closed = false

  private def ensureOpen(): Unit =
    if (closed) throw new IllegalStateException(s"hep writer for $path is closed")

  /** Opens a new process group (reference `new_process`). A key already
    * opened in this writer is refused, as h5py's `create_group` refuses an
    * existing name: a second builder would restart event_id at 0 over the
    * first one's flushed chunks.
    */
  def newProcess(key: String): ProcessBuilder = {
    ensureOpen()
    require(!procs.contains(key), s"process $key is already open in this writer")
    val b = new ProcessBuilder(key)
    procs(key) = b
    b
  }

  /** Finalizes the store: flushes all chunks and writes the `processes`
    * metadata table (num_evts finalized at close, like `write/hdf.py:456`).
    * A second call is a no-op, as h5py's `File.close()` is; once closed,
    * `newProcess`, `newEvent` and `commitEvent` throw
    * `IllegalStateException`. A close that fails part-way still closes the
    * writer and leaves the store without its `_meta.json` sidecar.
    */
  def close(): Unit = {
    if (closed) return
    closed = true
    import spark.implicits._
    procs.values.foreach(_.flush())
    val metas = procs.values.map(p =>
      ProcessMeta(p.key, p.processString, p.signalPdgs, p.comE, p.eUnit,
        p.numEvts, p.customMeta.toMap, p.inPcls, p.outPcls)).toSeq
    if (metas.nonEmpty)
      spark.createDataset(metas).write.mode(SaveMode.Append)
        .option("compression", compression)
        .options(levelOpts)
        .parquet(s"$path/$ProcessesTable")
    // file-level attrs (layout/version/evts_per_chunk, write/hdf.py:571-576)
    val level = compressionLevel.map(l => s""","compression_level":$l""").getOrElse("")
    val sidecar =
      s"""{"layout":"graft-hep","version":1,"evts_per_chunk":$evtsPerChunk,"compression":"$compression"$level}"""
    HadoopIo.writeString(spark, s"$path/_meta.json", sidecar)
  }
}

object HepWriter {
  /** One staged custom dataset: the dtype tag plus exactly one populated
    * payload (mirrors CustomRow's self-describing storage).
    */
  private[hep] final case class CustomData(
      dtype: String,
      doubles: Array[Double] = Array.empty,
      longs: Array[Long] = Array.empty,
      grid: Array[Array[Double]] = Array.empty)
}
