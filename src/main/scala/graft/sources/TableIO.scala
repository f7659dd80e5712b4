package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Thin source/sink layer for the engine's tables.
  *
  * The north rule names Iceberg; this sandbox ships no Iceberg jars
  * (offline), so the layout is "Iceberg-shaped": partitioned Parquet
  * plus the explicit snapshot manifest in [[graft.resume.Checkpoint]].
  * All engine code reads/writes through here, so a real Iceberg catalog
  * is a drop-in (`spark.read.format("iceberg")...`) without touching
  * operators.
  *
  * JSON ingest mirrors the reference's strict-schema load semantics
  * (serde rejects any document not matching `Vec<Account>`,
  * rust/src/lib.rs:81-83; a parse failure yields an empty table +
  * logged error, app/.../SecurityUtil.kt:123-131): `strict = true` =
  * FAILFAST (reject the load), `strict = false` = PERMISSIVE with a
  * `_corrupt_record` column (bad rows become data, not exceptions).
  */
object TableIO {

  /** Columnar scan — the 100 TB path (vectorized reader, pushdown). */
  def readParquet(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** S3 — raw text-file ingestion, one row per FILE: `(path, content)`
    * (the reference reads a whole file from a content stream,
    * app/.../HomeViewModel.kt:159-163). This is how a real repo
    * checkout enters the engine as `(repo, path, commit, lang,
    * content)` rows: read whole files, derive the key columns from the
    * path, validate. `wholetext` keeps one row per file; Spark still
    * parallelizes ACROSS files, which is the right granularity for
    * source files (none of them is 100 GB).
    */
  def readText(spark: SparkSession, pathGlob: String): DataFrame =
    spark.read
      .option("wholetext", "true")
      .text(pathGlob)
      .select(input_file_name().as("path"), col("value").as("content"))

  /** S3 — opaque binary ingestion via the binaryFile source:
    * `(path, length, content: binary)` — the ingestion entry point for
    * image/audio blobs (bytes stay opaque).
    */
  def readBinary(spark: SparkSession, pathGlob: String): DataFrame =
    spark.read
      .format("binaryFile")
      .load(pathGlob)
      .select(col("path"), col("length"), col("content"))

  /** Schema-strict JSON read (reference S1 semantics). */
  def readJson(
      spark: SparkSession,
      path: String,
      schema: StructType,
      strict: Boolean = false): DataFrame = {
    if (strict)
      spark.read.schema(schema).option("mode", "FAILFAST").json(path)
    else
      spark.read
        .schema(schema.add("_corrupt_record", "string"))
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(path)
  }

  /** Partitioned parquet write; dynamic overwrite keeps re-runs of a
    * partition idempotent (the checkpoint protocol relies on this).
    */
  def writePartitioned(
      df: DataFrame,
      path: String,
      partitionCols: Seq[String],
      mode: SaveMode = SaveMode.Overwrite): Unit =
    df.write
      .mode(mode)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partitionCols: _*)
      .parquet(path)

  /** Write `df` as a BUCKETED external parquet table — the co-location
    * contract a path-based parquet write cannot record. Two tables
    * bucketed by the same keys into the same `nBuckets` join with NO
    * exchange on either side (each scan already satisfies the join's
    * required distribution), so at 100 TB the recurring fact-to-fact
    * join pays its shuffle ONCE at write time and never again;
    * `sortCols` additionally orders rows within each bucket file so
    * the sort-merge join can skip its per-task sort too (requires one
    * file per bucket — repartition by the bucket key before writing —
    * and `spark.sql.legacy.bucketedTableScan.outputOrdering=true`,
    * which Spark turned off by default in SPARK-28632; both plan
    * shapes pinned by PlanSpec). Registered in the catalog as `tableName`
    * (external, data at `path`); read back with `spark.table(...)` —
    * a plain `read.parquet(path)` would not see the bucket metadata.
    *
    * Reference analog: the keyed precomputed view the app maintains so
    * per-tick lookups never rescan (HomeViewModel.kt:43-47) — here the
    * precomputed property is the data LAYOUT rather than the values.
    */
  def writeBucketed(
      df: DataFrame,
      tableName: String,
      path: String,
      bucketCols: Seq[String],
      nBuckets: Int,
      sortCols: Seq[String] = Seq.empty,
      mode: SaveMode = SaveMode.Overwrite): Unit = {
    require(bucketCols.nonEmpty, "bucketCols must be non-empty")
    require(nBuckets > 0, s"nBuckets must be positive, got $nBuckets")
    val w = df.write
      .mode(mode)
      .format("parquet")
      .option("path", path)
      .bucketBy(nBuckets, bucketCols.head, bucketCols.drop(1): _*)
    (if (sortCols.nonEmpty) w.sortBy(sortCols.head, sortCols.drop(1): _*) else w)
      .saveAsTable(tableName)
  }

  /** Small-file compaction — the table-maintenance analog of Iceberg's
    * `rewrite_data_files`: rewrite a parquet directory into
    * `ceil(totalBytes / targetFileBytes)` files. Streaming sinks and
    * per-partition commits accumulate small files; at 100 TB the
    * file-open overhead and driver listing cost of millions of tiny
    * files dominate scans, so compaction is a first-class maintenance
    * op. Size comes from file-listing METADATA (no data scan before
    * the rewrite itself).
    *
    * Crash-safety on a plain filesystem: write-temp → rename the live
    * table ASIDE → rename temp into place → delete the aside copy. A
    * crash between any two steps leaves a complete copy of the data
    * under either the live name, `.compact-tmp`, or `.compact-old` —
    * never a window where the table exists only as a half-deleted
    * directory (a real deployment still prefers the table format's
    * snapshot swap; the engine's own outputs additionally resolve
    * committed data through the [[graft.resume.Checkpoint]] manifest).
    * It keeps this swap rather than a versioned publish because readers
    * and writers reach the table by its own path, and on a plain
    * filesystem no single rename can replace a non-empty directory.
    * Non-parquet sidecars living under the table dir (other than
    * `_SUCCESS`/hidden committer files) are NOT carried through a
    * rewrite, so compaction REFUSES such tables instead of silently
    * destroying the sidecars.
    *
    * Returns the ACTUAL post-rewrite data-file count from a listing of
    * the renamed directory (for hive-partitioned tables the shuffle
    * produces ~one file per partition VALUE, which can exceed the
    * byte-budget target).
    */
  def compact(
      spark: SparkSession,
      path: String,
      targetFileBytes: Long = 128L << 20): Int = {
    val hPath = new org.apache.hadoop.fs.Path(path)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val strays = nonParquetEntries(fs, hPath)
    require(strays.isEmpty,
      s"refusing to compact $path: a rewrite would destroy non-parquet " +
        s"entries under the table dir: ${strays.take(5).mkString(", ")}")
    val totalBytes = fs.getContentSummary(hPath).getLength
    val parts = math.max(1L, (totalBytes + targetFileBytes - 1) / targetFileBytes).toInt
    // Sibling dirs from the NORMALIZED path — raw string concat on a
    // trailing-slash input would nest the temp INSIDE the table and the
    // recursive delete below would destroy both copies.
    val tmp = new org.apache.hadoop.fs.Path(
      hPath.getParent, hPath.getName + ".compact-tmp")
    val old = new org.apache.hadoop.fs.Path(
      hPath.getParent, hPath.getName + ".compact-old")
    require(!fs.exists(old),
      s"$old exists — a previous compaction crashed mid-swap; recover or " +
        "remove it before compacting again")
    // Hive-partitioned layouts (dir names like lang=en) must keep their
    // directory structure: flattening would break partition pruning and
    // poison later dynamic partition overwrites with stale flat files.
    val partitionCols = hivePartitionColumns(fs, hPath)
    val df = spark.read.parquet(path)
    val writer =
      if (partitionCols.isEmpty)
        // coalesce: narrow merge of small files, no shuffle.
        df.coalesce(parts).write
      else
        // colocate each partition value in one task (one file each);
        // the shuffle is the price of preserving the layout.
        df.repartition(parts, partitionCols.map(col): _*)
          .write.partitionBy(partitionCols: _*)
    writer.mode(SaveMode.Overwrite).parquet(tmp.toString)
    // The swap: live data is ALWAYS fully present somewhere.
    require(fs.rename(hPath, old), s"compaction aside-rename failed for $path")
    if (!fs.rename(tmp, hPath)) {
      // restore the original rather than leaving the table missing
      fs.rename(old, hPath)
      throw new IllegalStateException(s"compaction swap-rename failed for $path")
    }
    fs.delete(old, true)
    dataFileCount(fs, hPath)
  }

  /** Recursive count of `*.parquet` data files under `root`. */
  private def dataFileCount(
      fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path): Int = {
    val it = fs.listFiles(root, true)
    var n = 0
    while (it.hasNext) {
      if (it.next().getPath.getName.endsWith(".parquet")) n += 1
    }
    n
  }

  /** Visible non-parquet FILES under `root` (committer artifacts —
    * `_SUCCESS`, hidden checksums — excluded): the sidecars a rewrite
    * would destroy.
    */
  private def nonParquetEntries(
      fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path): Seq[String] = {
    val it = fs.listFiles(root, true)
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    while (it.hasNext) {
      val name = it.next().getPath.getName
      if (!name.endsWith(".parquet") && name != "_SUCCESS" &&
        !name.startsWith(".") && !name.startsWith("_"))
        out += name
    }
    out.toSeq
  }

  /** Hive-style partition column names from the directory layout
    * (`a=1/b=2/part-…`), walking one branch — metadata-only.
    */
  private def hivePartitionColumns(
      fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var dir = root
    var found = true
    while (found) {
      found = false
      val subdirs = fs.listStatus(dir).filter(_.isDirectory)
        .filter(_.getPath.getName.contains("="))
      subdirs.headOption.foreach { s =>
        out += s.getPath.getName.split("=", 2)(0)
        dir = s.getPath
        found = true
      }
    }
    out.toSeq
  }

  /** Row-oriented JSON export of a whole table as one file — the
    * reference's snapshot-export shape (S2/S4: one serialized document;
    * app/.../SecurityUtil.kt:114-121). `coalesce(1)` is deliberate and
    * only sane for small exports; never use on the 100 TB path.
    */
  def exportJson(df: DataFrame, path: String): Unit =
    df.coalesce(1).write.mode(SaveMode.Overwrite).json(path)

  /** Serialize rows to a JSON-string column (F15 analog). */
  def toJsonColumn(df: DataFrame): DataFrame =
    df.select(to_json(struct(df.columns.map(col): _*)).as("json"))

  /** Parse a JSON-string column back to typed columns; `strict = false`
    * nulls out bad rows (reference E4 swallow-with-default semantics),
    * leaving `json` populated for quarantine.
    */
  def fromJsonColumn(df: DataFrame, jsonCol: String, schema: StructType): DataFrame =
    df.withColumn("parsed", from_json(col(jsonCol), schema))
      .select(col(jsonCol), col("parsed.*"))
}
