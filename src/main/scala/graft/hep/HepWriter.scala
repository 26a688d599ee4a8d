package graft.hep

import java.io.IOException
import java.util.UUID
import scala.collection.mutable
import scala.reflect.runtime.universe.TypeTag
import scala.util.Try
import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.{Job, TaskAttemptID}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.catalyst.expressions.{BoundReference, UnsafeProjection}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType
import HepWriter.{CustomData, Staged}
import Schemas._

/** Write path of the hep facade (reference S7-S11, `write/hdf.py`).
  *
  * The reference's streaming-shaped contract — `new_process` → per-event
  * writer contexts fed by a generator (`write/hdf.py:493-516`) — maps to
  * builders that buffer events and flush one chunk at a time: every
  * `evtsPerChunk` events, each member table gets ONE parquet file in its
  * `(process, chunk)` directory, rows in `(event_id, idx)` order. Every
  * row lands in chunk `event_id / evtsPerChunk`: a flush whose events
  * span two chunks (an event id opened but never committed, or events
  * committed out of order) writes one file per chunk, so such a chunk may
  * hold a file from each of two flushes. The chunk is the reference's
  * `evt-set-{chunk}` unit (`write/hdf.py:439-445`), so the layout does not depend on the writing
  * machine's core count, `chunk` partition pruning reproduces the
  * reference's O(1) `divmod` addressing (`read/hdf.py:454-466`), and
  * row-group statistics can skip inside a large chunk. It is also the
  * layout [[HepMaintenance.compact]] produces.
  *
  * The rows are already on the driver, so the driver writes the files
  * itself, as the reference writes each chunk group in-process: ingest
  * starts no Spark job. Each file goes through the `OutputWriter` of
  * Spark's own parquet format (`ParquetFileFormat.prepareWrite`), which
  * supplies the codec and its level, the footer's Spark schema and the
  * file extension, so the files are those a Spark write job would leave;
  * partition directories are laid out by `HepChunkIndex.chunkPath`,
  * with Spark's escaping. A file is written
  * under a hidden (`.`-prefixed) temp name in its target directory,
  * which readers skip, and renamed to a fresh `part-<uuid>` name. A flush
  * first writes all of its files, then renames them, so a failed write
  * leaves no visible file behind. Directories and files are created
  * through [[NioLocalFileSystem]] on `file:`: Hadoop's own local
  * filesystem, without libhadoop, forks a `chmod` for every directory and
  * every data and `.crc` file it creates, about 3 ms each, and that fork
  * was the per-file cost of a small chunk. The files of one flush are
  * written one after another on the calling thread. The Spark write jobs this
  * replaced ran a flush's tables concurrently, but each table cost a job;
  * measured on 4 vCPUs, the sequential driver write was faster both with
  * 16-event chunks of a few KB and with 1000-event chunks of a few MB
  * (see CHANGES.md).
  *
  * `close()` writes the `processes` table, then the `_meta.json` sidecar
  * LAST: the sidecar is the store's commit marker, and [[HepReader]]
  * refuses a store without it. It records each member table's bytes
  * (`table_bytes`), the reader's size estimate for join planning. A failed flush or close poisons the
  * writer: the store may lack that chunk's rows, so from then on
  * `newProcess`, `newEvent`, `commitEvent` and `close` throw an
  * `IllegalStateException` whose cause is the original failure, and the
  * store is never finalized. The call that failed throws the failure
  * itself.
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

  require(evtsPerChunk >= 1,
    s"evtsPerChunk must be at least 1, got $evtsPerChunk")

  /** Codec-level writer options (reference S7 parity: `write/hdf.py:552-564`
    * exposes h5py's gzip level 1-9). Parquet's codec levels are reached
    * through Hadoop conf keys of the file-format writer: zstd takes the
    * numeric level directly (parquet-hadoop's
    * `parquet.compression.codec.zstd.level`, range
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
  private val fs = HadoopIo.writeFs(spark, path)
  require({
    val p = new Path(path)
    !fs.exists(p) ||
      (fs.getFileStatus(p).isDirectory && fs.listStatus(p).isEmpty)
  }, s"hep store path $path already contains data (a finalized store, a " +
    "crashed writer's partial output, or a non-directory); write to a " +
    "fresh path — in-place append is not supported")

  // per-store codec, the parquet counterpart of the reference's
  // per-dataset gzip/lzf choice (write/hdf.py:552-564); zstd default
  private val writeOpts = Map("compression" -> compression) ++ levelOpts

  /** Writes one member table's files through the `OutputWriter` of
    * Spark's parquet format: rows are encoded by their `ExpressionEncoder`
    * and, for a partitioned table, lose the `process` column, which the
    * directory carries. Built once per writer and table.
    */
  private final class TableSink[T <: Product : TypeTag](
      table: String, partitioned: Boolean) {
    private val encoder = ExpressionEncoder[T]()
    private val toRow = encoder.createSerializer()
    private val kept = encoder.schema.fields.indices
      .filterNot(i => partitioned && encoder.schema(i).name == "process")
    private val dataSchema = StructType(kept.map(encoder.schema(_)))
    private val project = UnsafeProjection.create(kept.map { i =>
      val f = encoder.schema(i)
      BoundReference(i, f.dataType, f.nullable)
    })
    private val job = Job.getInstance(HadoopIo.writeConf(spark, writeOpts))
    private val factory =
      new ParquetFileFormat().prepareWrite(spark, job, writeOpts, dataSchema)
    private val context =
      new TaskAttemptContextImpl(job.getConfiguration, new TaskAttemptID())
    private val ext = factory.getFileExtension(context)

    /** Writes `rows` as one hidden file in `<table>/<subdir>`; a failed
      * write deletes it.
      */
    def stage(rows: Seq[T], subdir: String = ""): Staged = {
      val dir = new Path(s"$path/$table/$subdir")
      val name = s"part-${UUID.randomUUID()}-c000$ext"
      val tmp = new Path(dir, s".$name.tmp")
      val out = factory.newInstance(tmp.toString, dataSchema, context)
      try {
        rows.foreach(r => out.write(project(toRow(r))))
        out.close()
      } catch {
        case t: Throwable =>
          Try(out.close())
          Try(fs.delete(tmp, false))
          throw t
      }
      Staged(table, tmp, new Path(dir, name), fs.getFileStatus(tmp).getLen)
    }
  }

  private lazy val particleSink = new TableSink[Particle](ParticlesTable, partitioned = true)
  private lazy val edgeSink = new TableSink[EdgeRow](EdgesTable, partitioned = true)
  private lazy val eventSink = new TableSink[EventMeta](EventsTable, partitioned = true)
  private lazy val customSink = new TableSink[CustomRow](CustomTable, partitioned = true)
  private lazy val processSink = new TableSink[ProcessMeta](ProcessesTable, partitioned = false)

  /** Bytes of the visible files of each member table. */
  private val tableBytes = mutable.LinkedHashMap.empty[String, Long]

  /** Writes every file, then makes them visible. If a write fails, the
    * files already written are deleted; a failed rename throws.
    */
  private def commit(writes: Seq[() => Staged]): Unit = {
    val staged = mutable.ArrayBuffer.empty[Staged]
    try writes.foreach(w => staged += w())
    catch {
      case t: Throwable =>
        staged.foreach(s => Try(fs.delete(s.tmp, false)))
        throw t
    }
    staged.foreach { s =>
      if (!fs.rename(s.tmp, s.dst))
        throw new IOException(s"commit failed: rename ${s.tmp} -> ${s.dst}")
      tableBytes(s.table) = tableBytes.getOrElse(s.table, 0L) + s.bytes
    }
  }

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

    private[HepWriter] def flush(): Unit = if (pending.nonEmpty) poisoning {
      val evts = pending.toVector.sortBy(_.eventId)
      pending.clear()
      // a flush holds one chunk unless an event id was never committed or
      // events were committed out of order; each chunk it holds gets its
      // own files, and all of them become visible in one commit
      commit(evts.groupBy(_.eventId / evtsPerChunk).toSeq.sortBy(_._1)
        .flatMap { case (chunk, inChunk) => chunkWrites(chunk, inChunk) })
    }

    /** The writes of one chunk's events: one file per member table. */
    private def chunkWrites(chunk: Long, evts: Seq[EventBuilder]): Seq[() => Staged] = {
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

      val dir = HepChunkIndex.chunkPath(key, chunk)
      def write[T <: Product](sink: => TableSink[T], rows: Seq[T]): Seq[() => Staged] =
        if (rows.isEmpty) Nil else Seq(() => sink.stage(rows, dir))
      write(particleSink, particles) ++ write(edgeSink, edgeRows) ++
        write(eventSink, eventRows) ++ write(customSink, customRows)
    }
  }

  private val procs = mutable.LinkedHashMap.empty[String, ProcessBuilder]
  private var closed = false
  private var failure: Option[Throwable] = None

  private def ensureOpen(): Unit = {
    for (t <- failure)
      throw new IllegalStateException(
        s"hep writer for $path failed earlier; the store is not finalized", t)
    if (closed) throw new IllegalStateException(s"hep writer for $path is closed")
  }

  /** Runs a step that writes to the store; its failure poisons the writer. */
  private def poisoning(body: => Unit): Unit =
    try body
    catch { case t: Throwable => failure = Some(t); throw t }

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

  /** Finalizes the store: flushes all chunks, writes the `processes`
    * metadata table (num_evts finalized at close, like `write/hdf.py:456`),
    * then the `_meta.json` sidecar that marks the store finished. A second
    * call is a no-op, as h5py's `File.close()` is; once closed,
    * `newProcess`, `newEvent` and `commitEvent` throw
    * `IllegalStateException`. A close that fails poisons the writer, like
    * a failed flush, and on a poisoned writer `close` throws
    * `IllegalStateException` and writes nothing.
    */
  def close(): Unit = {
    if (closed && failure.isEmpty) return
    ensureOpen()
    closed = true
    poisoning {
      procs.values.foreach(_.flush())
      val metas = procs.values.map(p =>
        ProcessMeta(p.key, p.processString, p.signalPdgs, p.comE, p.eUnit,
          p.numEvts, p.customMeta.toMap, p.inPcls, p.outPcls)).toSeq
      if (metas.nonEmpty) commit(Seq(() => processSink.stage(metas)))
      // file-level attrs (layout/version/evts_per_chunk, write/hdf.py:571-576)
      val level = compressionLevel.map(l => s""","compression_level":$l""").getOrElse("")
      // bytes per member table: the reader's size estimate for join planning
      val bytes = tableBytes.map { case (t, n) => s""""$t":$n""" }.mkString(",")
      val sidecar =
        s"""{"layout":"graft-hep","version":1,"evts_per_chunk":$evtsPerChunk,"compression":"$compression"$level,"table_bytes":{$bytes}}"""
      HadoopIo.writeString(spark, s"$path/_meta.json", sidecar)
    }
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

  /** A written file of `bytes` that is not visible yet: `tmp` is renamed
    * to `dst`.
    */
  private final case class Staged(table: String, tmp: Path, dst: Path, bytes: Long)
}
