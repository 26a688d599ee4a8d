package graft.hep

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import Schemas._

/** Read path of the hep facade (reference S1-S6 / P1-P16, `read/hdf.py`).
  *
  * Every projection below is a lazy DataFrame: only the accessed columns
  * reach the parquet reader (column pruning = the reference's lazy
  * per-column reads, `read/hdf.py:262-316`). A point lookup's process and
  * chunk predicates prune partitions to that chunk's directory (= the
  * reference's O(1) `divmod` B-tree descent, `read/hdf.py:454-466`), and
  * the chunk is read on the calling thread, starting no Spark job and
  * broadcasting nothing: each member table is a parquet relation over a
  * [[HepChunkIndex]], which lists only the directory such predicates
  * name, and [[HepLookup]] reads any scan over that index whose
  * partition filters leave one directory of at most
  * [[HepLookup.MaxDriverReadBytes]] on the driver, through the parquet
  * reader Spark's scan would pick (vectorized for the store's columns),
  * built per lookup from the session's settings, with the event_id
  * predicate pushed to it (it skips row groups when a chunk file holds
  * several, and pages through the column index; the node's
  * `rowsDecoded` metric counts the rows the reader returned before the
  * lookup's filters). A scan over several directories or a
  * larger one (a process scan, an oversized custom dataset) plans the
  * ordinary parquet scan. The strategy is installed on the session when
  * the reader opens its first table.
  *
  * The `_meta.json` sidecar is the store's commit marker: every producer
  * writes it last ([[HepWriter.close]], `tools/hdf5_to_parquet.py`), as
  * the reference's finalizer writes the file attrs last
  * (`write/hdf.py:571-576`). A store without it was never finalized — a
  * writer that failed or never closed — and may lack rows, so the
  * constructor refuses it with an `IllegalArgumentException` instead of
  * guessing its `evts_per_chunk`; so is a sidecar without a positive
  * `evts_per_chunk`. Producers write the sidecar whole or not at all
  * (under a temp name, then renamed), so a torn sidecar is never seen.
  *
  * A reader is a snapshot of its store, like the reference's open
  * `h5py.File`: the sidecar is read once, at construction (the
  * reference's per-open attr cache, `read/hdf.py:437`). Each member
  * table is opened once, at its first use, with no Spark job and no
  * listing of the table: its schema comes from one footer on the driver
  * (the first file of the looked-up chunk when a point lookup opens it),
  * and its size estimate for join planning from the sidecar's
  * `table_bytes`. Each chunk directory is a snapshot from its first
  * listing; a scan over other filters lists the whole table once. The
  * `processes` metadata is collected once, after which [[process]] is a
  * map lookup that starts no job and [[processes]] is a local Dataset of
  * the same rows. So opening a reader and its first lookup cost the same
  * at any store size, and a lookup pays only its own chunk read. Files
  * written or rewritten after a directory was listed (a store rebuilt in
  * place, [[HepMaintenance.compact]]) are not seen: open a new reader. A
  * table whose open fails is not remembered, so the next access retries
  * it; one reader may serve lookups from several threads.
  *
  * Iteration contract: [[ProcessReader.events]] is UNORDERED by default,
  * matching the reference's native-order scan (`read/hdf.py:419-428`);
  * order explicitly with `.orderBy("event_id")` when needed.
  */
final class HepReader(spark: SparkSession, path: String) {

  private val opened = mutable.Map.empty[String, DataFrame]

  /** Member table `name`; `chunk` names the `(process, chunk)` directory
    * of the lookup that opens it, whose first file gives the schema.
    */
  private[hep] def table(name: String, chunk: Option[(String, Long)] = None): DataFrame =
    synchronized {
      opened.getOrElseUpdate(name, {
        HepLookup.install(spark)
        spark.baseRelationToDataFrame(HepChunkIndex.relation(spark, s"$path/$name",
          partitioned = name != ProcessesTable, tableBytes.get(name),
          chunk.collect { case (p, c) if c.isValidInt => (p, c.toInt) }))
      })
    }

  /** The `processes` table, collected once. Stores written before the
    * decay surface existed lack `in_pcls`/`out_pcls`; they are patched in
    * as empty arrays so old stores keep opening (schema evolution,
    * additive-columns-only).
    */
  private lazy val metas: Map[String, ProcessMeta] = {
    import spark.implicits._
    var df = table(ProcessesTable)
    for (c <- Seq("in_pcls", "out_pcls") if !df.columns.contains(c))
      df = df.withColumn(c, typedLit(Seq.empty[Int]))
    df.as[ProcessMeta].collect().map(m => m.process -> m).toMap
  }

  /** All process metadata (the tiny broadcastable dimension). */
  def processes: Dataset[ProcessMeta] = {
    import spark.implicits._
    metas.values.toSeq.toDS()
  }

  /** Process lookup by key (reference `HdfReader.__getitem__`). */
  def process(key: String): ProcessReader = {
    require(metas.contains(key), s"no such process: $key")
    new ProcessReader(metas(key))
  }

  private def unfinalized(what: String) = new IllegalArgumentException(
    s"$path/_meta.json $what: the hep store at $path was never " +
      "finalized (its writer failed or did not close), so it may lack rows")

  /** The `_meta.json` sidecar, read through the Hadoop `FileSystem` of the
    * store's path (works on any scheme — a `java.io.File` read would
    * silently miss the sidecar on HDFS/S3 and refuse every store).
    */
  private val sidecar: String = HadoopIo.readString(spark, s"$path/_meta.json")
    .getOrElse(throw unfinalized("is missing"))

  /** File-level `evts_per_chunk` attr from the sidecar. */
  val evtsPerChunk: Int = {
    val n = "\"evts_per_chunk\"\\s*:\\s*(\\d+)".r.findFirstMatchIn(sidecar)
      .map(_.group(1).toInt).getOrElse(throw unfinalized("has no evts_per_chunk"))
    require(n >= 1, s"$path/_meta.json has evts_per_chunk = $n: a chunk " +
      "holds at least one event, so no event of this store can be addressed")
    n
  }

  /** Bytes per member table, from the sidecar's `table_bytes` object; a
    * producer that did not record it leaves the map empty.
    */
  private val tableBytes: Map[String, Long] =
    "\"table_bytes\"\\s*:\\s*\\{([^}]*)\\}".r.findFirstMatchIn(sidecar).toSeq
      .flatMap(m => "\"(\\w+)\"\\s*:\\s*(\\d+)".r.findAllMatchIn(m.group(1)))
      .map(m => m.group(1) -> m.group(2).toLong).toMap

  final class ProcessReader private[HepReader] (val meta: ProcessMeta) {
    // eager metadata snapshot, like the reference's attr cache
    // (read/hdf.py:437): one driver-side read, then dict hits.
    def processString: String = meta.process_string
    def signalPdgs: Seq[Int] = meta.signal_pdgs
    def comEnergy: (Double, String) = (meta.com_e, meta.e_unit)
    def customMeta: Map[String, String] = meta.custom_meta

    /** `len(process)` → finalized num_evts (reference `read/hdf.py:444`). */
    def length: Long = meta.num_evts

    /** Deprecated reference surface (`string` property alias of the
      * hard-process string; deprecated in the reference too): use
      * [[processString]].
      */
    @deprecated("use processString", "0.1.0")
    def string: String = processString

    /** Deprecated reference surface (`decay` property,
      * `read/hdf.py:482-485`: dict of `in_pcls`/`out_pcls` PDG arrays;
      * deprecated there in favour of `signal_pdgs`): use [[signalPdgs]].
      */
    @deprecated("use signalPdgs", "0.1.0")
    def decay: Map[String, Seq[Int]] =
      Map("in_pcls" -> meta.in_pcls, "out_pcls" -> meta.out_pcls)

    /** Deprecated reference surface (`read_event(n)`): use [[event]]. */
    @deprecated("use event(n)", "0.1.0")
    def readEvent(n: Long): EventReader = event(n)

    private def inProc(df: DataFrame): DataFrame =
      df.where(col("process") === meta.process)

    /** Member table `name` of this process, opened from `chunk` if this
      * opens it.
      */
    private[HepReader] def inChunk(name: String, chunk: Long): DataFrame =
      inProc(table(name, Some(meta.process -> chunk)))

    /** All particle rows of this process (unordered scan). */
    def particles: DataFrame = inProc(table(ParticlesTable))

    /** All edges of this process. */
    def edges: DataFrame = inProc(table(EdgesTable))

    /** Event-level summaries. */
    def events: DataFrame = inProc(table(EventsTable))

    /** Point lookup (reference `proc[evt_num]`): process + chunk partition
      * pruning, then one chunk read on the driver with event_id pushed to it.
      */
    def event(n: Long): EventReader =
      new EventReader(this, n, n / evtsPerChunk)

    /** Custom datasets side table for this process. */
    def custom: DataFrame = inProc(table(CustomTable))
  }

  final class EventReader private[HepReader] (
      proc: ProcessReader, val eventId: Long, chunk: Long) {

    private def slice(name: String): DataFrame = proc.inChunk(name, chunk)
      .where(col("chunk") === chunk && col("event_id") === eventId)

    /** The event's particle table slice (all columns, pruned on use). */
    def particles: DataFrame = slice(ParticlesTable)

    def pmu: DataFrame = particles.select(col("idx"), col("pmu"))
    def pdg: DataFrame = particles.select(col("idx"), col("pdg"))
    def status: DataFrame = particles.select(col("idx"), col("status"))
    def helicity: DataFrame = particles.select(col("idx"), col("helicity"))
    def colorCol: DataFrame = particles.select(col("idx"), col("color"))

    /** The `final` mask (reference `read/hdf.py:318-321`). */
    def finalMask: DataFrame = particles.select(col("idx"), col("fin"))

    /** A named extra mask (`masks[name]`). */
    def mask(name: String): DataFrame =
      particles.select(col("idx"),
        coalesce(element_at(col("masks"), name), lit(false)).as(name))

    /** Final-state particles only — `pmu[masks['final']]` semantics. */
    def finalParticles: DataFrame = particles.where(col("fin"))

    def edges: DataFrame = slice(EdgesTable).select("src", "dst", "weight")

    /** `num_pcls` from the events summary (attr, not a scan — P8). */
    def count: Long = {
      val r = slice(EventsTable).select("num_pcls").collect()
      if (r.isEmpty) 0L else r.head.getLong(0)
    }

    /** Custom dataset by name (`custom[name]`): `values` carries 1-D
      * doubles (first column, as always), `values_long` 1-D ints,
      * `values_2d` 2-D doubles, with `dtype` saying which one this
      * dataset populated (f8 / i8 / f8_2d) — the reference's
      * any-dtype/any-shape passthrough (`write/hdf.py:113-124`) without
      * coercing everything through doubles. Stores written before the
      * typed columns existed surface them as empty arrays.
      */
    def custom(name: String): DataFrame = {
      var df = slice(CustomTable).where(col("name") === name)
      if (!df.columns.contains("dtype"))
        df = df.withColumn("dtype", lit("f8"))
          .withColumn("values_long", typedLit(Seq.empty[Long]))
          .withColumn("values_2d", typedLit(Seq.empty[Seq[Double]]))
      df.select("values", "values_long", "values_2d", "dtype")
    }

    /** Event custom metadata. */
    def customMeta: Map[String, String] = {
      val r = slice(EventsTable).select("custom_meta").collect()
      if (r.isEmpty) Map.empty
      else r.head.getMap[String, String](0).toMap
    }

    /** Event key name (reference P9, `read/hdf.py:251-253`). */
    def name: String = Keys.eventKey(eventId, evtsPerChunk)

    /** Deprecated reference surface (`read/hdf.py:329-332`): use
      * [[mask]] instead.
      */
    @deprecated("use mask(name)", "0.1.0")
    def maskDeprecated(nm: String): DataFrame = mask(nm)

    /** Deprecated reference surface (`read/base.py:50-51` `final`): use
      * [[finalMask]] / [[finalParticles]].
      */
    @deprecated("use finalMask", "0.1.0")
    def finalProp: DataFrame = finalMask
  }
}
