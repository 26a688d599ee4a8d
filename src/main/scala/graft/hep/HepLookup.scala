package graft.hep

import scala.collection.mutable.ArrayBuffer
import org.apache.hadoop.mapred.{FileSplit, JobConf}
import org.apache.hadoop.mapreduce.TaskAttemptID
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.parquet.filter2.compat.FilterCompat
import org.apache.parquet.filter2.predicate.FilterApi
import org.apache.parquet.hadoop.{ParquetInputFormat, ParquetRecordReader}
import org.apache.spark.paths.SparkPath
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{And, Attribute, AttributeSeq, AttributeSet, BindReferences, Expression, InterpretedUnsafeProjection, JoinedRow, Literal, NamedExpression, Predicate, SubqueryExpression}
import org.apache.spark.sql.catalyst.planning.PhysicalOperation
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.catalyst.util.{DateTimeUtils, truncatedString}
import org.apache.spark.sql.classic
import org.apache.spark.sql.execution.{LeafExecNode, SQLExecution, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.datasources.{DataSourceUtils, HadoopFsRelation, LogicalRelation, PartitionDirectory, PartitionedFile, RecordReaderIterator}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFilters, ParquetFooterReader, ParquetOptions, ParquetReadSupport, ParquetWriteSupport, VectorizedParquetRecordReader}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.graftaccess.SourceFilters
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.sources.Filter

/** Planner strategy that answers a hep point lookup on the calling thread
  * (the reference's in-process `proc[evt_num]`, `read/hdf.py:454-466`),
  * in the pattern of a custom `SparkStrategy` registered through
  * `spark.experimental.extraStrategies`.
  *
  * It matches a project/filter stack over a parquet `HadoopFsRelation`
  * whose file index is a [[HepChunkIndex]] — the index of
  * [[HepReader]]'s member tables only, so SQL over
  * [[graft.sources.HepCatalog]] and every other parquet read plan as
  * before. It lists that index with the stack's partition filters (a
  * point lookup's one chunk directory, listed once per reader) and plans
  * a [[HepLookupExec]] when at most one partition directory —
  * one `(process, chunk)` — is left and its files total at most
  * [[MaxDriverReadBytes]]. Any other scan returns `Nil`, and the ordinary
  * `FileSourceScanExec` plans it.
  */
private[hep] object HepLookup extends SparkStrategy {

  /** Largest partition directory read on the driver: a reference-default
    * chunk of 1000 events is about 2 MB of particles.
    */
  val MaxDriverReadBytes: Long = 16L << 20

  /** Registers the strategy on `spark`'s session once. */
  def install(spark: SparkSession): Unit = {
    val methods = spark.asInstanceOf[classic.SparkSession].experimental
    methods.synchronized {
      if (!methods.extraStrategies.contains(this))
        methods.extraStrategies = methods.extraStrategies :+ this
    }
  }

  private def plannable(e: Expression): Boolean =
    e.deterministic && !SubqueryExpression.hasSubquery(e)

  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case PhysicalOperation(projects, filters,
          l @ LogicalRelation(fs: HadoopFsRelation, _, _, _, _))
        if fs.location.isInstanceOf[HepChunkIndex] && (projects ++ filters).forall(plannable) =>
      val resolver = SQLConf.get.resolver
      val partitionColumns = l.resolve(fs.partitionSchema, resolver)
      val partitionSet = AttributeSet(partitionColumns)
      val dataColumns =
        l.resolve(fs.dataSchema, resolver).filterNot(partitionSet.contains)
      val required = AttributeSet((projects ++ filters).flatMap(_.references))
      // a `_metadata` column is no file column: leave it to the file scan
      if (!required.subsetOf(AttributeSet(dataColumns ++ partitionColumns))) Nil
      else {
        val partitionFilters = filters.filter(f =>
          f.references.nonEmpty && f.references.subsetOf(partitionSet))
        val dataFilters = filters.filter(_.references.intersect(partitionSet).isEmpty)
        // the index prunes by column name: name each reference as its column
        val dirs = fs.location.listFiles(partitionFilters.map(_.transform {
          case a: Attribute => partitionColumns.find(_.semanticEquals(a)).getOrElse(a)
        }), Nil)
        val bytes = dirs.iterator.flatMap(_.files).map(_.getLen).sum
        if (dirs.size > 1 || bytes > MaxDriverReadBytes) Nil
        else HepLookupExec(projects, filters, partitionFilters,
          SourceFilters.pushed(fs, dataFilters),
          dataColumns.filter(required.contains), partitionColumns,
          fs, dirs.headOption) :: Nil
      }
    case _ => Nil
  }
}

/** Reads one partition directory of a hep member table on the driver.
  *
  * Each file goes through the reader Spark's `ParquetFileFormat` builds
  * for a task, built here on the calling thread with nothing broadcast: a
  * Hadoop conf made per read from the session and the relation's
  * options, carrying the keys Spark's reader sets up (requested schema,
  * time zone, schema-conversion flags); per file, the footer's schema and
  * rebase modes, the pushed filters compiled against that schema under
  * the session's pushdown settings, and the decoder Spark picks: its
  * `VectorizedParquetRecordReader` read row by row, with the partition
  * values appended, wherever `supportBatch` covers the columns, otherwise
  * parquet-mr's `ParquetRecordReader` with Spark's `ParquetReadSupport`.
  * The stack's filters other than its `partitionFilters` are then
  * evaluated on each row and the projection applied: the partition
  * filters already chose the directory ([[HepChunkIndex.listFiles]]
  * evaluates every one of them on its partition values), so no row
  * re-checks `process` or `chunk`, while a filter that mixes a partition
  * and a data column is evaluated on every row. Both are interpreted
  * (`InterpretedPredicate`, `InterpretedUnsafeProjection`), so a lookup
  * generates and compiles no code: for one chunk's rows that costs more
  * than it saves, at 1000 events per chunk too (BASELINE.md).
  * `executeCollect`, `executeTake` and `executeTail` start no Spark job;
  * under another operator `doExecute` hands the same rows on as a
  * one-partition RDD. Nothing is read before execution, so a lookup
  * DataFrame stays lazy, and session settings are read at every
  * execution. The relation and the directory stay on the
  * driver (`@transient`, as in `FileSourceScanExec`): no task ever reads
  * them. `numFiles`, `filesSize`, `rowsDecoded` (rows the parquet reader
  * returned, before the stack's filters) and `numOutputRows` are posted
  * as driver metrics.
  */
private[hep] final case class HepLookupExec(
    projects: Seq[NamedExpression],
    filters: Seq[Expression],
    partitionFilters: Seq[Expression],
    pushedFilters: Seq[Filter],
    dataColumns: Seq[Attribute],
    partitionColumns: Seq[Attribute],
    @transient relation: HadoopFsRelation,
    @transient dir: Option[PartitionDirectory])
    extends LeafExecNode {

  override def output: Seq[Attribute] = projects.map(_.toAttribute)

  override def nodeName: String = "HepLookup"

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "numFiles" -> SQLMetrics.createMetric(sparkContext, "number of files read"),
    "filesSize" -> SQLMetrics.createSizeMetric(sparkContext, "size of files read"),
    "rowsDecoded" -> SQLMetrics.createMetric(sparkContext, "number of rows decoded"),
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"))

  /** The Hadoop conf of one read, set up as Spark's parquet reader sets
    * up the conf it broadcasts to its tasks. It holds what
    * `newHadoopConfWithOptions` would (the context's Hadoop conf, the
    * session's SQL settings, the relation's options) in one copy, a
    * `JobConf`, which `TaskAttemptContextImpl` takes without copying.
    */
  private def readConf(session: classic.SparkSession): JobConf = {
    val sqlConf = session.sessionState.conf
    val conf = new JobConf(session.sparkContext.hadoopConfiguration)
    for ((k, v) <- sqlConf.getAllConfs if v != null) conf.set(k, v)
    for ((k, v) <- relation.options if v != null && k != "path" && k != "paths") conf.set(k, v)
    val requested = DataTypeUtils.fromAttributes(dataColumns).json
    conf.set(ParquetInputFormat.READ_SUPPORT_CLASS, classOf[ParquetReadSupport].getName)
    conf.set(ParquetReadSupport.SPARK_ROW_REQUESTED_SCHEMA, requested)
    conf.set(ParquetWriteSupport.SPARK_ROW_SCHEMA, requested)
    conf.set(SQLConf.SESSION_LOCAL_TIMEZONE.key, sqlConf.sessionLocalTimeZone)
    conf.setBoolean(SQLConf.NESTED_SCHEMA_PRUNING_ENABLED.key, sqlConf.nestedSchemaPruningEnabled)
    conf.setBoolean(SQLConf.CASE_SENSITIVE.key, sqlConf.caseSensitiveAnalysis)
    // ParquetToSparkSchemaConverter reads every one of these
    conf.setBoolean(SQLConf.PARQUET_BINARY_AS_STRING.key, sqlConf.isParquetBinaryAsString)
    conf.setBoolean(SQLConf.PARQUET_INT96_AS_TIMESTAMP.key, sqlConf.isParquetINT96AsTimestamp)
    conf.setBoolean(SQLConf.PARQUET_INFER_TIMESTAMP_NTZ_ENABLED.key,
      sqlConf.parquetInferTimestampNTZEnabled)
    conf.setBoolean(SQLConf.LEGACY_PARQUET_NANOS_AS_LONG.key, sqlConf.legacyParquetNanosAsLong)
    conf.setBoolean(SQLConf.PARQUET_READER_RESPECT_UNKNOWN_TYPE_ANNOTATION.key,
      sqlConf.parquetReaderRespectUnknownTypeAnnotation)
    conf
  }

  private def read(): Array[InternalRow] = {
    val files = dir.toSeq.flatMap(_.files)
    val rows = ArrayBuffer.empty[InternalRow]
    var decoded = 0L
    if (files.nonEmpty) {
      val input = AttributeSeq(dataColumns ++ partitionColumns)
      val rowFilters = filters.filterNot(partitionFilters.contains)
      val keep = Predicate.createInterpreted(BindReferences.bindReference(
        rowFilters.reduceOption(And).getOrElse(Literal.TrueLiteral), input))
      keep.initialize(0)
      val project =
        InterpretedUnsafeProjection.createProjection(BindReferences.bindReferences(projects, input))
      project.initialize(0)
      val session = relation.sparkSession.asInstanceOf[classic.SparkSession]
      val sqlConf = session.sessionState.conf
      val conf = readConf(session)
      val options = new ParquetOptions(relation.options, sqlConf)
      // the decoder Spark's scan picks: the vectorized one wherever it covers the columns
      val vectorized = relation.fileFormat.supportBatch(session, DataTypeUtils.fromAttributes(input.attrs))
      val values = dir.get.values
      val joined = new JoinedRow
      for (f <- files) {
        // the vectorized reader reads on from the stream and row groups its footer read
        val opened = ParquetFooterReader.openFileAndReadFooter(conf,
          PartitionedFile(values, SparkPath.fromFileStatus(f.fileStatus), 0, f.getLen), vectorized)
        var streamHeld = false // once initialized, the vectorized reader closes the stream
        var it: RecordReaderIterator[_] = null
        try {
          val footer = opened.footer.getFileMetaData
          val keyValues = footer.getKeyValueMetaData
          val datetimeRebase =
            DataSourceUtils.datetimeRebaseSpec(keyValues.get, options.datetimeRebaseModeInRead)
          val int96Rebase =
            DataSourceUtils.int96RebaseSpec(keyValues.get, options.int96RebaseModeInRead)
          val pushed =
            if (!sqlConf.parquetFilterPushDown) None
            else {
              val compile = new ParquetFilters(footer.getSchema, sqlConf.parquetFilterPushDownDate,
                sqlConf.parquetFilterPushDownTimestamp, sqlConf.parquetFilterPushDownDecimal,
                sqlConf.parquetFilterPushDownStringPredicate,
                sqlConf.parquetFilterPushDownInFilterThreshold, sqlConf.caseSensitiveAnalysis,
                datetimeRebase)
              pushedFilters.flatMap(compile.createFilter).reduceOption(FilterApi.and)
            }
          // row-group (and page-index) skipping reads the predicate off the conf
          pushed match {
            case Some(p) => ParquetInputFormat.setFilterPredicate(conf, p)
            case None => conf.unset(ParquetInputFormat.FILTER_PREDICATE)
          }
          // INT96 values are converted only when a writer other than parquet-mr wrote them
          val convertTz =
            if (sqlConf.isParquetINT96TimestampConversion &&
                !footer.getCreatedBy.startsWith("parquet-mr"))
              Some(DateTimeUtils.getZoneId(sqlConf.sessionLocalTimeZone))
            else None
          val split = new FileSplit(f.getPath, 0, f.getLen, Array.empty[String])
          val context = new TaskAttemptContextImpl(conf, new TaskAttemptID())
          // each row holds the requested data columns, then the partition values
          val fileRows: Iterator[InternalRow] = if (vectorized) {
            // on-heap vectors: off a task, Spark's reader allocates them on-heap too
            val reader = new VectorizedParquetRecordReader(convertTz.orNull,
              datetimeRebase.mode.toString, datetimeRebase.timeZone,
              int96Rebase.mode.toString, int96Rebase.timeZone, false,
              sqlConf.parquetVectorizedReaderBatchSize)
            it = new RecordReaderIterator(reader)
            reader.initialize(split, context, Some(opened.inputFile), Some(opened.inputStream),
              Some(opened.footer))
            streamHeld = true
            reader.initBatch(relation.partitionSchema, values)
            it.asInstanceOf[Iterator[InternalRow]]
          } else {
            val support = new ParquetReadSupport(convertTz, enableVectorizedReader = false,
              datetimeRebase, int96Rebase)
            val reader = pushed match {
              case Some(p) if sqlConf.parquetRecordFilterEnabled =>
                new ParquetRecordReader[InternalRow](support, FilterCompat.get(p, null))
              case _ => new ParquetRecordReader[InternalRow](support)
            }
            val rowIt = new RecordReaderIterator(reader)
            it = rowIt
            reader.initialize(split, context)
            rowIt.map(joined(_, values))
          }
          fileRows.foreach { r =>
            decoded += 1
            if (keep.eval(r)) rows += project(r).copy()
          }
        } finally {
          if (it != null) it.close()
          if (!streamHeld) opened.inputStreamOpt.ifPresent(_.close())
        }
      }
    }
    metrics("numFiles").set(files.size.toLong)
    metrics("filesSize").set(files.map(_.getLen).sum)
    metrics("rowsDecoded").add(decoded)
    metrics("numOutputRows").add(rows.size.toLong)
    SQLMetrics.postDriverMetricUpdates(sparkContext,
      sparkContext.getLocalProperty(SQLExecution.EXECUTION_ID_KEY), metrics.values.toSeq)
    rows.toArray
  }

  override def executeCollect(): Array[InternalRow] = read()
  override def executeTake(n: Int): Array[InternalRow] = read().take(n)
  override def executeTail(n: Int): Array[InternalRow] = read().takeRight(n)

  override protected def doExecute(): RDD[InternalRow] =
    sparkContext.parallelize(read().toSeq, 1)

  override def simpleString(maxFields: Int): String =
    s"$nodeName ${truncatedString(output, "[", ",", "]", maxFields)} " +
      s"PartitionFilters: ${truncatedString(partitionFilters, "[", ", ", "]", maxFields)}, " +
      s"PushedFilters: ${pushedFilters.mkString("[", ", ", "]")}, " +
      s"ReadSchema: ${DataTypeUtils.fromAttributes(dataColumns).catalogString}"
}
