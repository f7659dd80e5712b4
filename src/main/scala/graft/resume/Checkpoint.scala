package graft.resume

import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.{Job, TaskAttemptID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

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
  * Layout under `outDir` ("Iceberg-shaped": immutable data files plus
  * an explicit snapshot manifest naming the live ones, with no Iceberg
  * dependency):
  * {{{
  *   outDir/violations/run_id=<id>/part-….parquet  (one directory per run;
  *                                                 one file per scan task
  *                                                 with violations)
  *   outDir/verdicts/part-00000-<id>-c000.….parquet (one file per run)
  *   outDir/manifest/part-….parquet               (one file per commit; one
  *                                                 row per committed partition)
  * }}}
  *
  * The verdict and manifest rows are few and already on the driver, so
  * the driver writes each batch of them as ONE Parquet file with Spark's
  * own writer ([[writeRows]]) — no Spark job, no `_temporary` directory,
  * no `_SUCCESS` file. The file is written under a hidden `.part-…` name,
  * which readers skip, and published by one rename: a manifest commit is
  * that single rename, so a reader sees all of a commit's rows or none.
  *
  * Scale notes: the manifest is O(partitions) rows and is never joined
  * against the input. [[ValidationRun]] collects its committed keys on
  * the driver ([[committed]]) and slices the input with their
  * complement ([[uncommittedFilter]]): on input partitioned by the
  * partition column the committed directories are pruned at the scan,
  * otherwise the one scan filters their rows out. [[pending]] (an
  * anti-join of the input's distinct partition values, one extra scan)
  * stays for callers that need the pending list before processing.
  *
  * Violation files are never overwritten. Each run appends its own
  * `run_id=<id>` directory, and the manifest decides which runs are
  * live: [[violations]] reads only the rows of runs some manifest row
  * names. A crashed run's directory is named by no manifest row, so it
  * is invisible there, and the next run removes it after its own commit
  * ([[removeOrphans]]), as Iceberg removes orphan files; so does the
  * crashed run's verdicts file, which is named after its run. A raw
  * `spark.read.parquet` of `outDir/violations` or `outDir/verdicts`
  * sees such output until then. One run at a time per `outDir`: a
  * concurrent run's uncommitted output would look orphaned.
  */
object Checkpoint {

  val manifestSchema = "partition STRING, run_id STRING, n_rows LONG, " +
    "n_bad_rows LONG, n_violations LONG, pass BOOLEAN, " +
    "wall_ms LONG, completed_at LONG"

  def manifestPath(outDir: String): String = s"$outDir/manifest"

  private def hasManifest(spark: SparkSession, outDir: String): Boolean = {
    val path = new Path(manifestPath(outDir))
    path.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(path)
  }

  /** All committed partition values (empty frame when no manifest yet). */
  def processed(spark: SparkSession, outDir: String): DataFrame =
    if (hasManifest(spark, outDir)) spark.read.schema(manifestSchema).parquet(manifestPath(outDir))
    else spark.createDataFrame(spark.sparkContext.emptyRDD[Row], StructType.fromDDL(manifestSchema))

  /** The `(partition, run_id)` of every manifest row, collected on the
    * driver (one entry per committed row). Without a manifest this is
    * `Nil` and reads nothing: a fresh run starts no job for it.
    */
  def committed(spark: SparkSession, outDir: String): Seq[(String, String)] =
    if (!hasManifest(spark, outDir)) Nil
    else processed(spark, outDir).select("partition", "run_id").collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq

  def violationsPath(outDir: String): String = s"$outDir/violations"

  def verdictsPath(outDir: String): String = s"$outDir/verdicts"

  /** A new run id: a name-based (version 3) UUID of random bytes. A
    * run's verdicts file carries its id ([[verdictsFileStem]]); the
    * version tells such a file from one written before verdicts files
    * were named after their run, whose name carries a random
    * (version 4) UUID that is no run's id.
    */
  def newRunId(): String =
    java.util.UUID.nameUUIDFromBytes(java.util.UUID.randomUUID().toString.getBytes("UTF-8")).toString

  /** The stem of a run's verdicts file: Spark's own file naming, with
    * the run id in place of the write's random UUID.
    */
  def verdictsFileStem(runId: String): String = s"part-00000-$runId-c000"

  private val RunDirPrefix = "run_id="
  /** A verdicts file named after its run (the `3` is the UUID version),
    * or the hidden temp a crash left of it.
    */
  private val VerdictsFile =
    """\.?part-00000-([0-9a-f]{8}-[0-9a-f]{4}-3[0-9a-f]{3}-[0-9a-f]{4}-[0-9a-f]{12})-c000\..*""".r

  /** The live violations: the rows of `outDir/violations` whose run some
    * manifest row names, by a left-semi join with the manifest's
    * O(partitions) rows, broadcast. A crashed run's rows never show
    * here. Each committed partition has one manifest row, so the run id
    * alone is the key; a manifest that keeps superseded rows would key
    * the join on `(partition, run_id)` too. Like `spark.read.parquet`,
    * this fails while no run has written a violation file.
    */
  def violations(spark: SparkSession, outDir: String): DataFrame = {
    val liveKey = Seq("run_id")
    val live = processed(spark, outDir).select(liveKey.map(col): _*).distinct()
    spark.read.parquet(violationsPath(outDir)).join(broadcast(live), liveKey, "left_semi")
  }

  /** Deletes every `outDir/violations/run_id=<id>` directory and every
    * verdicts file named after a run ([[verdictsFileStem]]) whose id is
    * not in `live` (the output of a crashed run), with file-system
    * listings and deletes only: no Spark job. Run ids are UUIDs, which
    * Spark writes into directory names unescaped. A file whose name
    * carries no run id (a verdicts file written before files were named
    * after their run) is never deleted.
    */
  def removeOrphans(spark: SparkSession, outDir: String, live: Set[String]): Unit = {
    val fs = new Path(outDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def remove(dir: String)(runOf: String => Option[String]): Unit = {
      val d = new Path(dir)
      if (fs.exists(d))
        fs.listStatus(d).map(_.getPath).filter(p => runOf(p.getName).exists(!live(_)))
          .foreach(fs.delete(_, true))
    }
    remove(violationsPath(outDir))(n => Option.when(n.startsWith(RunDirPrefix))(n.stripPrefix(RunDirPrefix)))
    remove(verdictsPath(outDir)) {
      case VerdictsFile(id) => Some(id)
      case _ => None
    }
  }

  /** Fails when `outDir/violations` holds a directory that is not a run
    * directory (entries named `_…` or `.…` aside). An `outDir` written
    * before violations landed one directory per run holds
    * `<partitionCol>=<v>/` directories, and a run directory beside them
    * would make every later read of the violations fail on the
    * conflicting partition columns. A file-system listing only: no job.
    */
  def requireRunLayout(spark: SparkSession, outDir: String): Unit = {
    val d = new Path(violationsPath(outDir))
    val fs = d.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val stale = if (!fs.exists(d)) None else fs.listStatus(d).find { s =>
      s.isDirectory && !Seq(RunDirPrefix, "_", ".").exists(s.getPath.getName.startsWith)
    }
    stale.foreach(s => throw new IllegalArgumentException(
      s"${s.getPath} is not a run directory: $outDir holds violations in the layout before " +
        "one directory per run; start in a fresh outDir"))
  }

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

  /** Append manifest rows (of [[manifestSchema]]) — the commit point,
    * one rename. Called only after the partitions' data writes succeeded.
    */
  def commit(spark: SparkSession, outDir: String, entries: Seq[Row]): Unit =
    writeRows(spark, manifestPath(outDir), StructType.fromDDL(manifestSchema), entries)

  /** [[commit]] of a frame's rows, collected on the driver: the entries
    * are O(partitions) rows.
    */
  def commit(spark: SparkSession, outDir: String, entries: DataFrame): Unit =
    writeRows(spark, manifestPath(outDir), entries.schema, entries.collect().toSeq)

  /** Add `rows` (of `schema`) to the Parquet table at `dir` as ONE new
    * file, written on the driver by Spark's own Parquet writer — the
    * codec, footer metadata and type mapping of `df.write.parquet` —
    * with no Spark job. The file is named `stem` plus the writer's
    * extension. It is written under a hidden temp name, which readers
    * skip, and published by one rename; a crash before the rename
    * leaves only that hidden file behind.
    */
  def writeRows(spark: SparkSession, dir: String, schema: StructType, rows: Seq[Row],
      stem: String = s"part-00000-${java.util.UUID.randomUUID()}-c000"): Unit = {
    val conf = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionState.newHadoopConf()
    val job = Job.getInstance(conf)
    job.setOutputKeyClass(classOf[Void])
    job.setOutputValueClass(classOf[InternalRow])
    val factory = new ParquetFileFormat().prepareWrite(spark, job, Map.empty, schema)
    val task = new TaskAttemptContextImpl(job.getConfiguration,
      new TaskAttemptID("", 0, TaskType.MAP, 0, 0))
    val name = stem + factory.getFileExtension(task)
    val (tmp, target) = (new Path(dir, s".$name"), new Path(dir, name))
    val writer = factory.newInstance(tmp.toString, schema, task)
    val toCatalyst = CatalystTypeConverters.createToCatalystConverter(schema)
    try rows.foreach(r => writer.write(toCatalyst(r).asInstanceOf[InternalRow]))
    finally writer.close()
    if (!target.getFileSystem(job.getConfiguration).rename(tmp, target))
      throw new java.io.IOException(s"could not publish $tmp as $target")
  }
}
