package graft.hep

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{SaveMode, SparkSession}
import org.apache.spark.sql.functions.col
import Schemas._

/** Store maintenance the reference cannot express (single-file h5py has no
  * small-files problem; a 100 TB parquet store does). [[HepWriter]] itself
  * leaves one file per (process, chunk) directory, but stores written by
  * earlier writers (one file per chunk AND per input slice), by other
  * producers, or split by `maxRecordsPerFile` hold many small files — and
  * small files are the classic scan killer at scale (per-file open/footer
  * cost, starved vectorized reads, bloated InMemoryFileIndex listings on
  * the driver).
  *
  * `compact` rewrites a member table so every (process, chunk) directory
  * holds ONE file (up to `maxRecordsPerFile`): a single
  * `repartition(process, chunk)` shuffle clusters each chunk into one
  * task, `partitionBy` lays the directories back out, and a Hadoop-FS
  * swap (write temp → rename old away → rename temp in → drop old) makes
  * the switch; the store is readable before and after, and chunk
  * addressing (`evtsPerChunk` pruning) is untouched because the partition
  * columns are rewritten verbatim. Run it offline — the swap is not
  * atomic against concurrent writers (the reader-side window is two
  * renames wide), which matches the writer's own single-owner contract.
  */
object HepMaintenance {

  /** Compacts one member table of a hep store; returns (filesBefore,
    * filesAfter). No-op (and no swap) when the table directory is absent.
    * Open a new [[HepReader]] afterwards: a reader that already used the
    * table holds a file listing naming the deleted files.
    */
  def compact(
      spark: SparkSession, storePath: String, table: String,
      maxRecordsPerFile: Long = 0L): (Int, Int) = {
    val dir = s"$storePath/$table"
    val fs = HadoopIo.fs(spark, dir)
    val dirPath = new Path(dir)
    if (!fs.exists(dirPath)) return (0, 0)

    def dataFileCount(p: Path): Int = {
      val it = fs.listFiles(p, true)
      var n = 0
      while (it.hasNext) {
        val f = it.next()
        val name = f.getPath.getName
        if (!name.startsWith("_") && !name.startsWith(".")) n += 1
      }
      n
    }

    val before = dataFileCount(dirPath)
    val df = spark.read.parquet(dir)
    // only the layout the writer itself uses: (process, chunk) for the
    // per-event tables; the processes table stays unpartitioned (a
    // process-only partitioning would silently change its layout)
    val partCols =
      if (Seq("process", "chunk").forall(df.columns.contains))
        Seq("process", "chunk")
      else Nil
    val tmp = new Path(s"$storePath/_compact_tmp_$table")
    val old = new Path(s"$storePath/_compact_old_$table")
    if (fs.exists(tmp)) fs.delete(tmp, true)
    if (fs.exists(old)) fs.delete(old, true)

    // restore intra-file ordering after the shuffle: the writer's natural
    // event_id(+idx) order is what gives parquet row-group min/max stats
    // their point-lookup skipping power; a bare repartition would
    // interleave events within the compacted file and widen every
    // row-group's event_id range to the whole chunk
    val sortCols = Seq("event_id", "idx").filter(df.columns.contains).map(col)
    val clustered =
      if (partCols.nonEmpty) {
        val r = df.repartition(partCols.map(col): _*)
        if (sortCols.nonEmpty) r.sortWithinPartitions(sortCols: _*) else r
      } else df.coalesce(1)
    val writer = clustered
      .write.mode(SaveMode.Overwrite)
      .option("maxRecordsPerFile", maxRecordsPerFile)
    (if (partCols.nonEmpty) writer.partitionBy(partCols: _*) else writer)
      .parquet(tmp.toString)

    // swap: the only window where the table is unreadable is between the
    // two renames — single-owner maintenance, like the writer itself
    require(fs.rename(dirPath, old), s"compact: could not move $dir aside")
    if (!fs.rename(tmp, dirPath)) {
      fs.rename(old, dirPath) // best-effort restore of the original
      throw new IllegalStateException(
        s"compact: could not move compacted data into $dir (original restored)")
    }
    fs.delete(old, true)
    (before, dataFileCount(dirPath))
  }

  /** Compacts every member table of the store. */
  def compactStore(spark: SparkSession, storePath: String,
      maxRecordsPerFile: Long = 0L): Map[String, (Int, Int)] =
    Seq(ParticlesTable, EdgesTable, EventsTable, ProcessesTable, CustomTable)
      .map(t => t -> compact(spark, storePath, t, maxRecordsPerFile)).toMap
}
