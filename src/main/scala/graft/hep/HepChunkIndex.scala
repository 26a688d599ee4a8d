package graft.hep

import java.io.FileNotFoundException
import java.util.concurrent.ConcurrentHashMap
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{AnalysisException, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.catalyst.expressions.{And, Attribute, BoundReference, EqualTo, Expression, Literal, Predicate, PredicateHelper}
import org.apache.spark.sql.execution.datasources.{FileIndex, FileStatusWithMetadata, HadoopFsRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.graftaccess.AsNullable
import org.apache.spark.sql.types.{IntegerType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** The file index of one [[HepReader]] member table, addressed by chunk
  * (the reference's `divmod` descent, `read/hdf.py:454-466`) instead of
  * by a listing of the whole table.
  *
  * A partitioned table's layout is fixed by [[HepWriter]]:
  * `<table>/process=<key>/chunk=<n>/` with Spark's partition-path
  * escaping, so its partition columns are `process STRING, chunk INT`.
  * When the partition filters fix both columns by equality, as every
  * point lookup does, [[listFiles]] lists that one directory and nothing
  * else. Any other filter lists the whole table, once, on first use. Each
  * chunk directory is listed at most once, by whichever comes first, and
  * then served from memory: a chunk is a snapshot from its first listing.
  * [[refresh]] forgets every listing. `processes` is unpartitioned: its
  * directory is listed once.
  *
  * Nothing here runs a Spark job, and [[sizeInBytes]] lists nothing: it
  * is the table's byte count from the store's `_meta.json`, or, for a
  * store whose producer did not record it, `spark.sql.defaultSizeInBytes`
  * (Spark's figure for a relation of unknown size).
  */
private[hep] final class HepChunkIndex(
    fs: FileSystem, root: Path, partitioned: Boolean, bytes: Long)
    extends FileIndex with PredicateHelper {
  import HepChunkIndex._

  /** Data files of each listed directory, by its path under `root`. */
  private val listed = new ConcurrentHashMap[String, Seq[FileStatus]]()
  @volatile private var allDirs: Option[Seq[(InternalRow, String)]] = None

  override def rootPaths: Seq[Path] = Seq(root)

  override def partitionSchema: StructType =
    if (partitioned) PartitionSchema else new StructType()

  override def sizeInBytes: Long = bytes

  override def refresh(): Unit = { listed.clear(); allDirs = None }

  /** The data files of `<root>/<dir>`, listed once; an absent directory
    * has none.
    */
  private def files(dir: String): Seq[FileStatus] =
    listed.computeIfAbsent(dir, _ => {
      val p = if (dir.isEmpty) root else new Path(root, dir)
      onRead(p)
      try fs.listStatus(p).toSeq
        .filter(f => f.isFile && f.getLen > 0 && !hidden(f.getPath.getName))
        .sortBy(_.getPath.getName)
      catch { case _: FileNotFoundException => Nil }
    })

  /** Every `(partition values, directory)` of a partitioned table. */
  private def chunkDirs: Seq[(InternalRow, String)] = allDirs.getOrElse(synchronized {
    allDirs.getOrElse {
      // the `column=<value>` subdirectories of `dir`, with their values
      def subdirs(dir: String, column: String): Seq[(String, String)] = {
        val p = if (dir.isEmpty) root else new Path(root, dir)
        onRead(p)
        fs.listStatus(p).toSeq.filter(_.isDirectory).map(_.getPath.getName)
          .filter(_.startsWith(s"$column=")).sorted
          .map(n => n -> ExternalCatalogUtils.unescapePathName(n.drop(column.length + 1)))
      }
      val all = for {
        (procDir, process) <- subdirs("", "process")
        (chunkDir, chunk) <- subdirs(procDir, "chunk")
        n <- chunk.toIntOption if n.toString == chunk // the writer's own spelling only
      } yield (InternalRow(UTF8String.fromString(process), n), s"$procDir/$chunkDir")
      allDirs = Some(all)
      all
    }
  })

  /** The `<process>/<chunk>` directory that `filters` pin, when they fix
    * both partition columns by equality to a literal.
    */
  private def pinned(filters: Seq[Expression]): Option[(InternalRow, String)] = {
    val conjuncts = filters.flatMap(splitConjunctivePredicates)
    def fixed(column: String): Option[Any] = conjuncts.collectFirst {
      case EqualTo(a: Attribute, Literal(v, _)) if a.name == column => v
      case EqualTo(Literal(v, _), a: Attribute) if a.name == column => v
    }
    for {
      process <- fixed("process").collect { case s: UTF8String => s }
      chunk <- fixed("chunk").collect { case n: Integer => n.intValue }
    } yield (InternalRow(process, chunk), chunkPath(process.toString, chunk))
  }

  override def listFiles(
      partitionFilters: Seq[Expression], dataFilters: Seq[Expression]): Seq[PartitionDirectory] =
    if (!partitioned)
      Seq(PartitionDirectory(InternalRow.empty, files("").map(FileStatusWithMetadata(_))))
    else {
      val keep = bind(partitionFilters)
      pinned(partitionFilters).map(Seq(_)).getOrElse(chunkDirs)
        .filter { case (values, _) => keep.eval(values) }
        .map { case (values, dir) =>
          PartitionDirectory(values, files(dir).map(FileStatusWithMetadata(_)))
        }
        .filter(_.files.nonEmpty)
    }

  override def inputFiles: Array[String] =
    (if (partitioned) chunkDirs.flatMap(d => files(d._2)) else files(""))
      .map(_.getPath.toString).toArray

  /** The file whose footer gives the table's schema: the first data file
    * of `chunk`'s directory when it has one (the directory a point lookup
    * lists anyway), else the table's first data file.
    */
  def schemaFile(chunk: Option[(String, Int)]): Option[FileStatus] = {
    def first(dirs: Seq[String]) = dirs.iterator.map(files).find(_.nonEmpty).map(_.head)
    if (!partitioned) first(Seq(""))
    else chunk.flatMap { case (p, c) => first(Seq(chunkPath(p, c))) }
      .orElse(first(chunkDirs.map(_._2)))
  }

  /** Binds partition filters to a `(process, chunk)` row, as Spark's file
    * index prunes partitions.
    */
  private def bind(filters: Seq[Expression]) =
    Predicate.createInterpreted(filters.reduceOption(And).getOrElse(Literal.TrueLiteral)
      .transform { case a: Attribute =>
        val i = PartitionSchema.fieldIndex(a.name)
        BoundReference(i, PartitionSchema(i).dataType, nullable = true)
      })
}

private[hep] object HepChunkIndex {

  val PartitionSchema: StructType = StructType(Seq(
    StructField("process", StringType), StructField("chunk", IntegerType)))

  /** Test hook: receives every directory an index lists and every file
    * whose footer a table open reads.
    */
  @volatile private[graft] var onRead: Path => Unit = _ => ()

  /** Names Spark's file listing skips (`_SUCCESS`, `.crc` sidecars, the
    * writer's hidden temp files).
    */
  private def hidden(name: String): Boolean =
    name.startsWith("_") || name.startsWith(".") || name.endsWith("._COPYING_")

  /** The one chunk directory layout, relative to a member table's root:
    * `process=<key>/chunk=<n>` with Spark's partition-path escaping.
    * [[HepWriter]] writes there and the index lists there.
    */
  def chunkPath(process: String, chunk: Long): String =
    ExternalCatalogUtils.getPartitionPathString("process", process) + "/" +
      ExternalCatalogUtils.getPartitionPathString("chunk", chunk.toString)

  /** The member table at `path` as a parquet relation over its chunk
    * index. Its data schema is read from one footer on the driver, as
    * Spark's non-merging inference reads one file, and made nullable, as
    * a file-source read makes it; `chunk` names the directory whose first
    * file gives it, when that directory holds one. A missing table fails
    * as Spark's parquet read of a missing path does.
    */
  def relation(spark: SparkSession, path: String, partitioned: Boolean, bytes: Option[Long],
      chunk: Option[(String, Int)]): HadoopFsRelation = {
    val conf = spark.sessionState.newHadoopConf()
    val raw = new Path(path)
    val fs = raw.getFileSystem(conf)
    val root = fs.makeQualified(raw)
    if (!fs.exists(root))
      throw new AnalysisException("PATH_NOT_FOUND", Map("path" -> root.toString))
    val sqlConf = spark.sessionState.conf
    val index =
      new HepChunkIndex(fs, root, partitioned, bytes.getOrElse(sqlConf.defaultSizeInBytes))
    val file = index.schemaFile(chunk).getOrElse(
      throw new AnalysisException("UNABLE_TO_INFER_SCHEMA", Map("format" -> "Parquet")))
    onRead(file.getPath)
    val footer = ParquetFooterReader.readFooter(
      HadoopInputFile.fromStatus(file, conf), ParquetMetadataConverter.SKIP_ROW_GROUPS)
    // the converter of Spark's schema inference (ParquetFileFormat.mergeSchemasInParallel)
    val converter = new ParquetToSparkSchemaConverter(
      assumeBinaryIsString = sqlConf.isParquetBinaryAsString,
      assumeInt96IsTimestamp = sqlConf.isParquetINT96AsTimestamp,
      inferTimestampNTZ = sqlConf.parquetInferTimestampNTZEnabled,
      nanosAsLong = sqlConf.legacyParquetNanosAsLong,
      respectUnknownTypeAnnotation = sqlConf.parquetReaderRespectUnknownTypeAnnotation)
    val dataSchema =
      ParquetFileFormat.readSchemaFromFooter(new Footer(file.getPath, footer), converter)
    HadoopFsRelation(index, index.partitionSchema, AsNullable(dataSchema), None,
      new ParquetFileFormat, Map.empty)(spark)
  }
}
