package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Bucketed table storage: pre-shuffles data into a fixed number of
  * hash buckets on the join key at WRITE time, so repeated joins and
  * aggregations on that key run with NO exchange at read time — the
  * co-located-join layout that matters most at the 100 TB design point
  * (one shuffle amortized over every downstream query).
  *
  * Uses the session catalog (`saveAsTable` is the only surface that
  * records bucketing metadata; plain `.parquet()` paths cannot).
  */
object BucketedStore {

  /** Writes `df` bucketed (and sorted in-bucket) by `keys`. Drops any
    * previous table AND its leftover warehouse location first — with the
    * in-memory catalog, a prior JVM's table metadata is gone but its
    * directory persists, and saveAsTable refuses to reuse the location.
    */
  def writeBucketedMulti(
      df: DataFrame, table: String, keys: Seq[String], numBuckets: Int): Unit = {
    require(keys.nonEmpty, "need at least one bucket key")
    val spark = df.sparkSession
    spark.sql(s"DROP TABLE IF EXISTS $table")
    val warehouse = spark.conf.get("spark.sql.warehouse.dir")
    graft.hep.HadoopIo.delete(spark, s"${warehouse.stripSuffix("/")}/$table")
    df.write
      .mode(SaveMode.Overwrite)
      .bucketBy(numBuckets, keys.head, keys.tail: _*)
      .sortBy(keys.head, keys.tail: _*)
      .format("parquet")
      .saveAsTable(table)
  }

  /** Registers a hep store's `particles` and `edges` as catalog tables
    * co-bucketed on (process, event_id) — the store's natural join keys.
    * Every ancestry hop (`Ancestry.children`/`parents`: edges ⋈ vertices on
    * process/event_id/vertex) and every event-sliced particle⋈edge join
    * then satisfies its distribution from the bucket layout:
    * `HashPartitioning(process, event_id)` clusters any superset join key,
    * so the plans carry ZERO Exchange (asserted in BucketedStoreSpec). One
    * shuffle at write time, amortized over every later join on the same
    * edges table — the co-location layout the 100 TB design point wants for
    * the hep side.
    *
    * Registration OVERWRITES: the target tables (and their warehouse
    * directories) are dropped first, like every writeBucketed call — so
    * two stores registered under the same `prefix` shadow each other, and
    * readers of the first registration break mid-scan. Callers keeping
    * several stores registered at once own prefix uniqueness (e.g. derive
    * it from the store name).
    *
    * @return (particlesTable, edgesTable) catalog names
    */
  def writeHepBucketed(
      spark: SparkSession, storePath: String, numBuckets: Int,
      prefix: String = "hep_b"): (String, String) = {
    val keys = Seq("process", "event_id")
    val pt = s"${prefix}_particles"
    val et = s"${prefix}_edges"
    writeBucketedMulti(
      spark.read.parquet(s"$storePath/particles"), pt, keys, numBuckets)
    writeBucketedMulti(
      spark.read.parquet(s"$storePath/edges"), et, keys, numBuckets)
    (pt, et)
  }

  /** Writes `df` bucketed (and sorted in-bucket) by `key`.
    *
    * Leftover-location cleanup goes through the warehouse's Hadoop
    * FileSystem: the warehouse may be remote (hdfs:/s3a:), where
    * java.io.File deletes would silently no-op and saveAsTable would
    * refuse the dirty location.
    */
  def writeBucketed(
      df: DataFrame, table: String, key: String, numBuckets: Int): Unit =
    writeBucketedMulti(df, table, Seq(key), numBuckets)

  def table(spark: SparkSession, name: String): DataFrame = spark.table(name)

  /** Joins two same-bucketed tables on their bucket key — planned as a
    * sort-merge join with zero shuffle when bucket counts match.
    */
  def coLocatedJoin(
      spark: SparkSession, leftTable: String, rightTable: String,
      leftKey: String, rightKey: String): DataFrame =
    spark.table(leftTable)
      .join(spark.table(rightTable),
        spark.table(leftTable)(leftKey) === spark.table(rightTable)(rightKey))
}
