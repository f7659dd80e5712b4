package graft.index

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Encoders, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** The persisted drift baseline: a binned sketch of a baseline table,
  * built once and scored against many times, instead of rescanning the
  * baseline per check. The load path checks the sidecar's kind before
  * handing the sketch to a consumer, and every version carries the
  * edges it was binned with, so a sketch is never scored with another
  * build's edges.
  *
  * Layout per baseline directory:
  *   - `data/v-<n>` — numbered versions, each holding its bins (parquet,
  *     one `slice_id=<id>` partition per build or appended slice) and
  *     its [[DriftMeta]] (JSON);
  *   - `meta/…` — one JSON row holding only the kind, written once.
  *
  * A build writes a fresh temp entry and commits it by ONE rename, and
  * readers take the highest committed version. A crash at any step
  * leaves the previous version readable.
  *
  * CONCURRENCY: the store is SINGLE-WRITER. A slice append is
  * idempotent for serialized retries of one slice, but two concurrent
  * writers can interleave their reads and writes, and two concurrent
  * builds can claim the same version number. Serialize writers per
  * baseline path (a scheduler lock, or one owning job). Concurrent
  * READERS are safe against appends and builds: a slice append replaces
  * only its own partition, and a published version is never replaced —
  * only pruned once two newer ones exist, which a reader survives by
  * resolving again.
  */
object IndexStore {

  private[index] final case class KindMeta(kind: String)
  final case class DriftMeta(kind: String, valueCol: String, groupCols: String, edges: Seq[Double])

  private def requireKind(spark: SparkSession, path: String, kind: String): Unit = {
    val kinds = spark.read.schema("kind STRING").json(s"$path/meta").collect()
    require(kinds.length == 1 && !kinds.head.isNullAt(0), s"index at $path has no readable meta sidecar")
    val actual = kinds.head.getString(0)
    require(actual == kind,
      s"index at $path is a '$actual' index, not '$kind'")
  }

  /** The kind-only sidecar: checked when it exists, written otherwise.
    * It exists once `meta/` holds a file Spark reads (one not named
    * `_…` or `.…`); a crash inside the first write leaves at most
    * Spark's `_temporary/`, which a retry overwrites. Anything else
    * there must read as this kind. Never rewritten by a rebuild.
    */
  private def claimKind(spark: SparkSession, path: String, kind: String): Unit = {
    val meta = new Path(s"$path/meta")
    val fs = meta.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val written = fs.exists(meta) && fs.listStatus(meta).exists { s =>
      val name = s.getPath.getName
      !name.startsWith("_") && !name.startsWith(".")
    }
    if (written) requireKind(spark, path, kind)
    else spark.createDataset(Seq(KindMeta(kind)))(Encoders.product[KindMeta])
      .coalesce(1).write.mode(SaveMode.Overwrite).json(meta.toString)
  }

  /** Write `rows` as one `<sliceCol>=<id>` partition and report how
    * many landed — the count runs BEFORE the write (on a cached frame)
    * so the data is read once, not twice. The partition is replaced if
    * it exists (dynamic overwrite: a retried slice is rewritten, never
    * counted twice).
    */
  private def appendCounted(rows: DataFrame, dataPath: String, sliceCol: String): Long = {
    rows.persist()
    try {
      val n = rows.count()
      if (n > 0) rows.write.mode(SaveMode.Overwrite)
        .option("partitionOverwriteMode", "dynamic").partitionBy(sliceCol).parquet(dataPath)
      n
    } finally rows.unpersist()
  }

  /** A slice id lands (and is replaced) as the literal directory
    * `<column>=<id>`: path-escaping characters would silently
    * desynchronize the write and replace paths, so only
    * partition-path-safe ids are accepted.
    */
  private def requireSliceId(id: String): Unit =
    require(id.nonEmpty && id.matches("[A-Za-z0-9._-]+"),
      s"sliceId '$id' must match [A-Za-z0-9._-]+ (it names a partition directory)")

  // -------------------------------------------------------------------
  // Drift baseline sketch (north rule: "KS/PSI against a baseline
  // sketch" — the sketch is a persisted artifact, not a per-run rescan)
  // -------------------------------------------------------------------

  /** Derive auto-binning edges from the baseline's quantiles, bin it
    * once, and persist sketch + edges. Every later snapshot scores
    * against O(groups × bins) stored rows — the baseline corpus is
    * never rescanned (at 100 TB the baseline scan IS the cost). The
    * bins (the `slice_id=build` partition of `bins/`) and their
    * [[DriftMeta]] (`meta/`) are committed together as one version; a
    * rebuild publishes a new version, so it replaces every slice.
    * Rebuilding over a baseline written before versions existed deletes
    * its bins from `data/` ([[publish]]); its root `meta/` keeps the old
    * edges, but only the kind is ever read from there.
    */
  def buildDriftBaseline(
      base: DataFrame,
      valueCol: String,
      groupCols: Seq[String],
      path: String,
      nBins: Int = 10,
      exact: Boolean = false): Unit = {
    require(!groupCols.contains(SliceCol), s"'$SliceCol' names the baseline's slices, not a group column")
    val spark = base.sparkSession
    val edges = graft.drift.Drift.quantileEdges(base, valueCol, nBins, exact)
    require(edges.nonEmpty, s"baseline has no non-null '$valueCol' value to take bin edges from")
    claimKind(spark, path, "drift")
    publish(spark, new Path(s"$path/data")) { tmp =>
      graft.drift.Drift.binsByEdges(base, valueCol, groupCols, edges)
        .withColumn(SliceCol, lit(BuildSlice))
        .write.partitionBy(SliceCol).parquet(s"$tmp/bins")
      spark.createDataset(Seq(DriftMeta("drift", valueCol, groupCols.mkString(","), edges.toSeq)))(
        Encoders.product[DriftMeta]).coalesce(1).write.json(s"$tmp/meta")
    }
  }

  private val SliceCol = "slice_id"
  private val BuildSlice = "build"

  /** `read` of the latest committed drift version's directory and meta.
    * A baseline written before versions existed (bins at the root of
    * `data/`) has none and fails here.
    */
  private def latestDrift[T](spark: SparkSession, path: String)(read: (Path, DriftMeta) => T): T = {
    requireKind(spark, path, "drift")
    latest(spark, new Path(s"$path/data")) { v =>
      read(v, spark.read.schema(Encoders.product[DriftMeta].schema).json(s"$v/meta")
        .as[DriftMeta](Encoders.product[DriftMeta]).head())
    }.getOrElse(throw new IllegalArgumentException(
      s"drift baseline at $path has no committed version; a baseline written before " +
        "versions existed keeps its bins at the root of data/: rebuild it with buildDriftBaseline"))
  }

  /** Stored sketch frame + build parameters (incl. the exact edges),
    * both from the latest committed version. Counts are re-summed per
    * (group, bin) over the slices on load (see [[appendDriftBaseline]]);
    * the aggregation is O(stored rows) — bins × groups × slices, tiny.
    */
  def loadDriftBaseline(spark: SparkSession, path: String): (DataFrame, DriftMeta) =
    latestDrift(spark, path) { (v, meta) =>
      val groupCols = meta.groupCols.split(",").toSeq.filter(_.nonEmpty)
      val sketchDf = spark.read.parquet(s"$v/bins")
        .groupBy((groupCols :+ "bin").map(col): _*)
        .agg(sum(col("n")).as("n"))
      (sketchDf, meta)
    }

  /** PSI/KS of `cur` against the STORED baseline: bins `cur` by the
    * persisted edges and joins the O(groups × bins) sketch — one scan
    * of the new data, zero scans of the baseline.
    */
  def driftAgainstBaseline(
      cur: DataFrame,
      path: String,
      eps: Double = 1e-6): DataFrame = {
    val (sketchDf, meta) = loadDriftBaseline(cur.sparkSession, path)
    val groupCols = meta.groupCols.split(",").toSeq.filter(_.nonEmpty)
    graft.drift.Drift.compareWithBaselineEdges(
      cur, sketchDf, meta.valueCol, groupCols, meta.edges.toArray, eps)
  }

  /** Fold a new baseline slice into the stored sketch: bin by the
    * STORED edges (binning never changes after build — comparability
    * beats re-quantiling) and write the slice's bin rows as the
    * `slice_id=<sliceId>` partition of the latest version's `bins/`;
    * the load path re-sums per (group, bin). Idempotent per `sliceId`:
    * a retry (after a crash that followed a completed append, or a
    * replay) replaces that slice's rows instead of counting them again.
    * Returns rows written.
    */
  def appendDriftBaseline(slice: DataFrame, path: String, sliceId: String): Long = {
    requireSliceId(sliceId)
    require(sliceId != BuildSlice, s"sliceId '$BuildSlice' names the built baseline")
    val (v, meta) = latestDrift(slice.sparkSession, path)((_, _))
    val groupCols = meta.groupCols.split(",").toSeq.filter(_.nonEmpty)
    appendCounted(
      graft.drift.Drift.binsByEdges(slice, meta.valueCol, groupCols, meta.edges.toArray)
        .withColumn(SliceCol, lit(sliceId)),
      s"$v/bins", SliceCol)
  }

  // -------------------------------------------------------------------
  // Versioned publish: a drift baseline is immutable `v-<n>` entries
  // under its `data/` root
  // -------------------------------------------------------------------

  private val VersionName = "v-(\\d+)".r

  /** The highest committed version number under `root` (numeric, not
    * lexical order); None when `root` is absent or holds none. A FILE at
    * `root` fails loudly: it is not an artifact this store wrote, and
    * reading it as "never written" would silently restart what it holds.
    */
  private def newest(fs: FileSystem, root: Path): Option[Long] = {
    val entries =
      try {
        require(fs.getFileStatus(root).isDirectory,
          s"$root is a file, not a versioned artifact directory")
        fs.listStatus(root)
      } catch { case _: java.io.FileNotFoundException => Array.empty[FileStatus] }
    entries.map(_.getPath.getName).collect { case VersionName(n) => n.toLong }.maxOption
  }

  /** Publish the next version of the artifact under `root`: `write`
    * fills a fresh `_tmp-<uuid>`, and ONE rename commits it as
    * `v-<n+1>` (n the highest committed version). Then every other entry
    * under `root` is deleted except that version's predecessor, which
    * stays for a reader that resolved it just before the rename: older
    * versions, temps a crash stranded, and the bins of a baseline
    * written before versions existed. A crash at any step leaves the
    * latest committed version whole; the next publish clears the rest.
    */
  private def publish(spark: SparkSession, root: Path)(write: Path => Unit): Unit = {
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val n = newest(fs, root).getOrElse(0L) + 1
    val tmp = new Path(root, s"_tmp-${java.util.UUID.randomUUID()}")
    write(tmp)
    val next = new Path(root, s"v-$n")
    require(fs.rename(tmp, next), s"could not publish $tmp as $next")
    val keep = Set(s"v-$n", s"v-${n - 1}")
    fs.listStatus(root).map(_.getPath).filterNot(p => keep(p.getName)).foreach(fs.delete(_, true))
  }

  /** `read` of the latest committed version under `root`; None when
    * none is committed. A version pruned between resolve and read (two
    * publishes landed meanwhile) resolves once more.
    */
  private def latest[T](spark: SparkSession, root: Path)(read: Path => T): Option[T] = {
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def attempt() = newest(fs, root).map(n => read(new Path(root, s"v-$n")))
    try attempt()
    catch { case e: Exception if notFound(e) => attempt() }
  }

  /** Both shapes of a vanished path: planning-time PATH_NOT_FOUND and
    * execution-time FileNotFoundException (gone between listing and
    * open) — walk the cause chain.
    */
  private def notFound(e: Throwable): Boolean =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(16).exists { t =>
      t.isInstanceOf[java.io.FileNotFoundException] ||
        (t.getMessage != null && t.getMessage.contains("PATH_NOT_FOUND"))
    }
}
