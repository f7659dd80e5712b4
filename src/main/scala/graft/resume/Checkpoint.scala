package graft.resume

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Checkpoint/resume manifest — the engine's commit protocol.
  *
  * Semantics model: the reference's versioned, self-describing snapshot
  * with validate-all-then-commit (backup envelope rust/src/lib.rs:102-135;
  * import replaces state only after full validation,
  * app/.../HomeViewModel.kt:168-175). Here the unit of commit is one
  * input partition: its violations/verdict data is fully written BEFORE
  * its manifest row appears, so a crash leaves at worst a re-processable
  * partition, never a half-acknowledged one.
  *
  * Layout under `outDir` ("Iceberg-shaped" partitioned Parquet + an
  * explicit snapshot manifest — no Iceberg jars in this sandbox):
  * {{{
  *   outDir/violations/<partitionCol>=<v>/…   (dynamic-overwrite parquet)
  *   outDir/verdicts/…                        (append, keyed by run_id)
  *   outDir/manifest/…                        (append; one row per
  *                                             committed partition)
  * }}}
  *
  * Scale notes: the manifest is O(partitions) rows and is never joined
  * against the data. [[ValidationRun]] collects its committed keys on
  * the driver ([[committed]]) and slices the input with their
  * complement ([[uncommittedFilter]]): on input partitioned by the
  * partition column the committed directories are pruned at the scan,
  * otherwise the one scan filters their rows out. [[pending]] (an
  * anti-join of the input's distinct partition values, one extra scan)
  * stays for callers that need the pending list before processing. A
  * re-run of a crashed partition overwrites only that partition's
  * violation files (dynamic partition overwrite), keeping publishes
  * idempotent.
  */
object Checkpoint {

  val manifestSchema = "partition STRING, run_id STRING, n_rows LONG, " +
    "n_bad_rows LONG, n_violations LONG, pass BOOLEAN, " +
    "wall_ms LONG, completed_at LONG"

  def manifestPath(outDir: String): String = s"$outDir/manifest"

  /** All committed partition values (empty frame when no manifest yet). */
  def processed(spark: SparkSession, outDir: String): DataFrame = {
    val path = manifestPath(outDir)
    val hPath = new org.apache.hadoop.fs.Path(path)
    if (hPath.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(hPath))
      spark.read.schema(manifestSchema).parquet(path)
    else spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType.fromDDL(manifestSchema))
  }

  /** The `partition` value of every manifest row, collected on the
    * driver (one entry per committed row; empty when no manifest yet).
    */
  def committed(spark: SparkSession, outDir: String): Seq[String] =
    processed(spark, outDir).select(col("partition")).collect().map(_.getString(0)).toSeq

  /** Partition values present in the input but not yet committed —
    * left_anti against the (tiny, broadcast) manifest.
    */
  def pending(df: DataFrame, partitionCol: String, outDir: String): Seq[String] = {
    val spark = df.sparkSession
    val done = processed(spark, outDir)
      .select(col("partition"))
      .distinct()
    df.select(partitionKey(partitionCol).as("partition"))
      .distinct()
      .join(broadcast(done), Seq("partition"), "left_anti")
      .collect()
      .map(_.getString(0))
      .toSeq
  }

  /** Manifest rows use a sentinel for a NULL partition value so resume
    * can track it like any other partition.
    */
  val NullPartitionToken = "__NULL__"

  /** The manifest key of a row: its partition value as a string, with
    * NULL mapped to the sentinel — a raw null key would never match its
    * manifest row and re-pend forever.
    */
  def partitionKey(partitionCol: String): org.apache.spark.sql.Column =
    coalesce(col(partitionCol).cast("string"), lit(NullPartitionToken))

  /** The inverse of [[partitionKey]], on the driver: the partition value
    * of `key` as the input column's `dataType` (the sentinel → null).
    */
  def partitionValue(key: String, dataType: org.apache.spark.sql.types.DataType): Any =
    if (key == NullPartitionToken) null
    else {
      import org.apache.spark.sql.catalyst.CatalystTypeConverters
      import org.apache.spark.sql.catalyst.expressions.{Cast, Literal}
      val tz = org.apache.spark.sql.internal.SQLConf.get.sessionLocalTimeZone
      CatalystTypeConverters.convertToScala(
        Cast(Literal(key), dataType, Some(tz)).eval(), dataType)
    }

  /** Input filter selecting exactly the rows whose [[partitionKey]] is
    * NOT among `committedParts` — the complement of the manifest, so no
    * pending list (and no scan to find it) is needed first. Over only
    * the partition column, so on input partitioned by it the committed
    * directories are pruned at the scan.
    */
  def uncommittedFilter(
      partitionCol: String,
      committedParts: Seq[String]): org.apache.spark.sql.Column =
    !partitionKey(partitionCol).isin(committedParts.distinct: _*)

  /** Append manifest rows — the commit point. Called only after the
    * partition's data writes succeeded.
    */
  def commit(spark: SparkSession, outDir: String, entries: DataFrame): Unit =
    entries.write.mode(SaveMode.Append).parquet(manifestPath(outDir))
}
