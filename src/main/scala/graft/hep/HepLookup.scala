package graft.hep

import java.io.Closeable
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.paths.SparkPath
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{And, Attribute, AttributeSet, Expression, Literal, NamedExpression, Predicate, SubqueryExpression, UnsafeProjection}
import org.apache.spark.sql.catalyst.planning.PhysicalOperation
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.catalyst.util.truncatedString
import org.apache.spark.sql.classic
import org.apache.spark.sql.execution.{LeafExecNode, SQLExecution, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.datasources.{FileFormat, HadoopFsRelation, LogicalRelation, PartitionDirectory, PartitionedFile}
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
  * whose options carry [[Marker]] — set only by [[HepReader]]'s member
  * tables, so SQL over [[graft.sources.HepCatalog]] and every other
  * parquet read plan as before. It lists the relation's already-open file
  * index with the stack's partition filters (an in-memory prune, no I/O)
  * and plans a [[HepLookupExec]] when at most one partition directory —
  * one `(process, chunk)` — is left and its files total at most
  * [[MaxDriverReadBytes]]. Any other scan returns `Nil`, and the ordinary
  * `FileSourceScanExec` plans it.
  */
private[hep] object HepLookup extends SparkStrategy {

  /** The relation option that marks a [[HepReader]] member table. */
  val Marker = "graft.hep.lookup"

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
        if fs.options.contains(Marker) && (projects ++ filters).forall(plannable) =>
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
  * The files go through the relation's own parquet reader
  * (`buildReaderWithPartitionValues`, row-returning, with the pushed
  * filters), then every filter of the matched stack is evaluated and the
  * projection applied. `executeCollect`, `executeTake` and `executeTail`
  * start no Spark job; under another operator `doExecute` hands the same
  * rows on as a one-partition RDD. Nothing is read before execution, so
  * a lookup DataFrame stays lazy. The relation and the directory stay on
  * the driver (`@transient`, as in `FileSourceScanExec`): no task ever
  * reads them. `numFiles`, `filesSize` and `numOutputRows` are posted as
  * driver metrics.
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
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"))

  private def read(): Array[InternalRow] = {
    val files = dir.toSeq.flatMap(_.files)
    val rows = ArrayBuffer.empty[InternalRow]
    if (files.nonEmpty) {
      val input = dataColumns ++ partitionColumns
      val keep = Predicate.create(filters.reduceOption(And).getOrElse(Literal.TrueLiteral), input)
      val project = UnsafeProjection.create(projects, input)
      val readFile = relation.fileFormat.buildReaderWithPartitionValues(
        relation.sparkSession, relation.dataSchema, relation.partitionSchema,
        DataTypeUtils.fromAttributes(dataColumns), pushedFilters,
        relation.options + (FileFormat.OPTION_RETURNING_BATCH -> "false"),
        relation.sparkSession.asInstanceOf[classic.SparkSession].sessionState
          .newHadoopConfWithOptions(relation.options))
      for (f <- files) {
        val it = readFile(PartitionedFile(dir.get.values, SparkPath.fromPath(f.getPath),
          0, f.getLen, Array.empty, f.getModificationTime, f.getLen, f.metadata))
        try it.foreach(r => if (keep.eval(r)) rows += project(r).copy())
        finally it match { case c: Closeable => c.close(); case _ => }
      }
    }
    metrics("numFiles").set(files.size.toLong)
    metrics("filesSize").set(files.map(_.getLen).sum)
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
