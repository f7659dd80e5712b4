package graft.index

import graft.refint.RefIntegrity
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Encoder, Encoders, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import scala.util.Try

/** Persistent build-once / query-many key-membership, drift and
  * expectation indices: each is built once and queried (or appended to)
  * many times, instead of rescanning the source per check. This store
  * writes each index as a parquet table plus a one-row JSON parameter
  * sidecar, and the load path validates the stored parameters (and the
  * sidecar's kind) before handing the frame to a consumer — so a query
  * against an index built with different parameters fails loudly
  * instead of silently returning garbage.
  *
  * Layout per index directory:
  *   - `data/…` — the index table (parquet); for the Bloom filter and
  *     the drift baseline, numbered versions `data/v-<n>`, each holding
  *     its own build parameters (see below);
  *   - `meta/…` — one JSON row of build parameters (kind-tagged); the
  *     Bloom and drift stores' hold only their kind, written once.
  *
  * The two artifacts this store REBUILDS rather than only appends to —
  * the Bloom filter and the drift baseline — are immutable numbered
  * versions `v-<n>`: a build is written to a fresh temp entry and
  * committed by ONE rename, and readers take the highest committed
  * version. A crash at any step leaves the previous version readable,
  * and a filter or a sketch is never read with another build's
  * parameters.
  *
  * CONCURRENCY: every `append…` path is SINGLE-WRITER. The slice
  * appends (drift baseline, expectation snapshots) are idempotent for
  * serialized retries of one slice, but two concurrent writers of the
  * same store can interleave their reads and writes; `appendBloom`'s
  * read-merge-publish can lose one writer's keys, and two concurrent
  * publishes can claim the same version number. Serialize writers per
  * index path (the [[graft.resume.Checkpoint]] manifest, a scheduler
  * lock, or one owning streaming query). Concurrent READERS are safe
  * against appends and versioned publishes: a slice append replaces
  * only its own partition, and a published version is never replaced —
  * only pruned once two newer ones exist, which a reader survives by
  * resolving again.
  */
object IndexStore {

  final case class BloomMeta(kind: String, keys: String, expectedItems: Long, fpp: Double)
  /** One committed Bloom version: the filter and the parameters it was built with. */
  private[index] final case class BloomVersion(bloom: Array[Byte], meta: BloomMeta)
  private[index] final case class KindMeta(kind: String)
  final case class DriftMeta(kind: String, valueCol: String, groupCols: String, edges: Seq[Double])
  final case class ExpectationsMeta(kind: String, groupCols: String)

  // -------------------------------------------------------------------
  // meta sidecar
  // -------------------------------------------------------------------

  private def writeMeta[T <: Product](spark: SparkSession, path: String, meta: T)(
      implicit enc: Encoder[T]): Unit =
    spark.createDataset(Seq(meta))
      .coalesce(1).write.mode(SaveMode.Overwrite).json(s"$path/meta")

  private def requireKind(spark: SparkSession, path: String, kind: String): Unit = {
    val kinds = spark.read.json(s"$path/meta").select(col("kind")).collect()
    require(kinds.length == 1, s"index at $path has no readable meta sidecar")
    val actual = kinds.head.getString(0)
    require(actual == kind,
      s"index at $path is a '$actual' index, not '$kind'")
  }

  private def readMeta[T <: Product](spark: SparkSession, path: String, kind: String)(
      implicit enc: Encoder[T]): T = {
    // Kind check BEFORE the typed decode: a wrong-kind sidecar has
    // different fields, and decoding those to nulls would throw an
    // opaque codec error instead of naming the actual mismatch.
    requireKind(spark, path, kind)
    spark.read.schema(enc.schema).json(s"$path/meta").as[T](enc).head()
  }

  /** The kind-only sidecar of a versioned store: checked when readable,
    * written otherwise (unreadable covers a crash inside the first
    * write). Never rewritten by a rebuild.
    */
  private def claimKind(spark: SparkSession, path: String, kind: String): Unit =
    Try(spark.read.json(s"$path/meta").select(col("kind")).as[String](Encoders.STRING).head())
      .toOption match {
      case Some(k) => require(k == kind, s"index at $path is a '$k' index, not '$kind'")
      case None => writeMeta(spark, path, KindMeta(kind))(Encoders.product[KindMeta])
    }

  // -------------------------------------------------------------------
  // Bloom key-membership index (referential integrity at scale)
  // -------------------------------------------------------------------

  /** Build and persist a Bloom filter over `dim`'s key tuple — the
    * build-once artifact for [[graft.refint.RefIntegrity]]'s bloom
    * paths. MB-sized regardless of dim width, so every later fact scan
    * loads it in one driver read and probes with zero shuffle. The
    * filter and its parameters are committed together, by one rename;
    * the kind-only meta sidecar is written once, before the first
    * filter, and never rewritten by a rebuild.
    */
  def buildBloom(
      dim: DataFrame,
      keys: Seq[String],
      path: String,
      expectedItems: Long,
      fpp: Double = 0.01): Unit = {
    val spark = dim.sparkSession
    val bytes = RefIntegrity.buildKeyBloom(dim, keys, expectedItems, fpp)
    claimKind(spark, path, "bloom")
    publishBloom(spark, path,
      BloomVersion(bytes, BloomMeta("bloom", keys.mkString(","), expectedItems, fpp)))
  }

  private def publishBloom(spark: SparkSession, path: String, v: BloomVersion): Unit =
    publish(spark, new Path(s"$path/data")) { tmp =>
      spark.createDataset(Seq(v))(Encoders.product[BloomVersion])
        .coalesce(1).write.parquet(tmp.toString)
    }

  /** Stored filter bytes + build parameters, both from the latest
    * committed version. Callers must probe with the SAME key columns in
    * the meta's recorded order.
    */
  def loadBloom(spark: SparkSession, path: String): (Array[Byte], BloomMeta) = {
    val rows = latest(spark, new Path(s"$path/data")) { v =>
      spark.read.parquet(v.toString).as[BloomVersion](Encoders.product[BloomVersion]).collect()
    }.getOrElse(throw new IllegalArgumentException(s"bloom index at $path has no filter"))
    require(rows.length == 1, s"bloom index at $path must hold exactly one row")
    (rows.head.bloom, rows.head.meta)
  }

  /** Incrementally fold a new dim slice into a stored Bloom index:
    * deserialize, merge the new keys' partial filter, publish the merge
    * as the next version. Bloom filters absorb re-inserted keys
    * idempotently, so ingest retries are safe; the fpp guarantee holds
    * while total distinct keys stay within the stored `expectedItems`
    * (checked nowhere — the filter degrades gracefully to a higher fpp,
    * never to false negatives). Single-writer, like every append path
    * (object scaladoc).
    */
  def appendBloom(dim: DataFrame, path: String): Unit = {
    val spark = dim.sparkSession
    val (bytes, meta) = loadBloom(spark, path)
    val keys = meta.keys.split(",").toSeq
    val bf = graft.functions.BloomExprs.deserialize(bytes)
    val nonNull = keys.map(col(_).isNotNull).reduce(_ && _)
    // Merge via a per-partition filter build + driver-side mergeInPlace:
    // ships one MB-sized filter per partition, never the key rows.
    val partial = dim.where(nonNull)
      .select(RefIntegrity.keyHash(keys).as("__kh"))
      .stat.bloomFilter("__kh", meta.expectedItems, meta.fpp)
    bf.mergeInPlace(partial)
    publishBloom(spark, path, BloomVersion(graft.functions.BloomExprs.serialize(bf), meta))
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
  private def requireSliceId(id: String, what: String): Unit =
    require(id.nonEmpty && id.matches("[A-Za-z0-9._-]+"),
      s"$what '$id' must match [A-Za-z0-9._-]+ (it names a partition directory)")

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
    requireSliceId(sliceId, "sliceId")
    require(sliceId != BuildSlice, s"sliceId '$BuildSlice' names the built baseline")
    val (v, meta) = latestDrift(slice.sparkSession, path)((_, _))
    val groupCols = meta.groupCols.split(",").toSeq.filter(_.nonEmpty)
    appendCounted(
      graft.drift.Drift.binsByEdges(slice, meta.valueCol, groupCols, meta.edges.toArray)
        .withColumn(SliceCol, lit(sliceId)),
      s"$v/bins", SliceCol)
  }

  // -------------------------------------------------------------------
  // Versioned publish: the Bloom filter and the drift baseline are
  // immutable `v-<n>` entries under an artifact root
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
    * `v-<n+1>` (n the highest committed version). Then stray temps and
    * every version older than the predecessor are deleted; the
    * predecessor stays for a reader that resolved it just before the
    * rename. A crash at any step leaves the latest committed version
    * whole; the next publish clears what the crash stranded.
    */
  private def publish(spark: SparkSession, root: Path)(write: Path => Unit): Unit = {
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val n = newest(fs, root).getOrElse(0L) + 1
    val tmp = new Path(root, s"_tmp-${java.util.UUID.randomUUID()}")
    write(tmp)
    val next = new Path(root, s"v-$n")
    require(fs.rename(tmp, next), s"could not publish $tmp as $next")
    fs.listStatus(root).map(_.getPath).foreach { p =>
      p.getName match {
        case VersionName(m) if m.toLong < n - 1 => fs.delete(p, true)
        case name if name.startsWith("_tmp-") => fs.delete(p, true)
        case _ =>
      }
    }
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

  // -------------------------------------------------------------------
  // Expectation-observation snapshots (baseline-relative gates:
  // "a snapshot 40% smaller than YESTERDAY'S" needs yesterday's
  // observations persisted — no static bound can express it)
  // -------------------------------------------------------------------

  private def exists(spark: SparkSession, path: String): Boolean = {
    val p = new Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** Persist one snapshot's [[graft.verdict.Expectations.evaluate]]
    * output, tagged `(snapshot_id, seq)`; `seq` is max(stored)+1 so
    * the LATEST snapshot is well-defined without a wall clock.
    * History stacks per snapshotId; RE-writing an EXISTING snapshotId
    * dynamic-overwrites only that snapshot's partition (content-
    * idempotent retries/replays — a crashed half-written snapshot is
    * fully rewritten, never duplicated; its seq advances, keeping a
    * replayed latest batch latest). O(groups × checks) rows per
    * snapshot. Single-writer, like every append path (object
    * scaladoc). Returns rows written.
    */
  def appendExpectationSnapshot(
      df: DataFrame,
      expects: Seq[graft.verdict.Expectations.Expect],
      groupCols: Seq[String],
      path: String,
      snapshotId: String,
      approxDistinct: Boolean = false): Long = {
    val spark = df.sparkSession
    requireSliceId(snapshotId, "snapshotId")
    val enc = Encoders.product[ExpectationsMeta]
    val seq =
      if (!exists(spark, s"$path/meta")) {
        writeMeta(spark, path,
          ExpectationsMeta("expectations", groupCols.mkString(",")))(enc)
        0L
      } else {
        val meta = readMeta[ExpectationsMeta](spark, path, "expectations")(enc)
        require(meta.groupCols == groupCols.mkString(","),
          s"expectation store at $path was built with groupCols=" +
            s"'${meta.groupCols}', not '${groupCols.mkString(",")}'")
        // Meta existing with NO data is a crashed-before-data or
        // zero-row first append — NOT a poisoned store: restart at 0.
        if (!exists(spark, s"$path/data")) 0L
        else {
          val m = spark.read.parquet(s"$path/data").agg(max(col("seq"))).head()
          if (m.isNullAt(0)) 0L else m.getLong(0) + 1L
        }
      }
    val rows = graft.verdict.Expectations
      .evaluate(df, expects, groupCols, approxDistinct)
      .withColumn("seq", lit(seq))
      .withColumn("snapshot_id", lit(snapshotId))
    appendCounted(rows, s"$path/data", "snapshot_id")
  }

  /** The LATEST stored snapshot's observation rows (max `seq`) + meta.
    * `excludeSnapshotId` masks one snapshot from the search — a
    * streaming replay gates a batch against its PREDECESSOR even when
    * the batch's own snapshot already landed before the crash; with
    * nothing left after the mask the frame is empty (first-run
    * semantics).
    */
  def loadLatestExpectations(
      spark: SparkSession,
      path: String,
      excludeSnapshotId: String = null): (DataFrame, ExpectationsMeta) = {
    val meta = readMeta[ExpectationsMeta](spark, path, "expectations")(
      Encoders.product[ExpectationsMeta])
    require(exists(spark, s"$path/data"),
      s"expectation store at $path has a meta sidecar but no data " +
        "(crashed or zero-row first append) — gate via " +
        "expectationsAgainstBaseline, which treats this as a first run")
    val all0 = spark.read.parquet(s"$path/data")
    val all =
      if (excludeSnapshotId == null) all0
      else all0.where(col("snapshot_id") =!= excludeSnapshotId)
    val latest = all.agg(max(col("seq"))).head()
    val snap =
      if (latest.isNullAt(0)) all.limit(0)
      else all.where(col("seq") === latest.getLong(0))
    (snap, meta)
  }

  /** Bound the snapshot HISTORY: delete all but the `keepLast`
    * highest-seq snapshots (whole `snapshot_id=<id>` partition
    * directories — ids are path-safe by construction, enforced at
    * append). Without pruning, a per-batch streaming writer accumulates
    * history forever and every max(seq) discovery scans all of it —
    * O(batches²) cumulative. Single-writer, like the appends; run it
    * from the one owning writer (the streaming sink does, per batch).
    * Returns snapshots deleted.
    */
  def pruneExpectationSnapshots(
      spark: SparkSession,
      path: String,
      keepLast: Int): Long = {
    require(keepLast >= 1, s"keepLast must be >= 1, got $keepLast")
    if (!exists(spark, s"$path/data")) return 0L
    val pairs = spark.read.parquet(s"$path/data")
      .select(col("snapshot_id"), col("seq")).distinct().collect()
    val drop = pairs.sortBy(-_.getLong(1)).drop(keepLast)
    if (drop.isEmpty) return 0L
    val root = new Path(s"$path/data")
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    drop.foreach { r =>
      fs.delete(new Path(root,
        s"snapshot_id=${r.getString(0)}"), true)
    }
    drop.length.toLong
  }

  /** Relative expectation gates of `cur` against the LATEST stored
    * snapshot ([[graft.verdict.Expectations.evaluateRelative]]).
    * FIRST RUN (no store at `path` yet): evaluated against an EMPTY
    * baseline, so every bounded relative check FAILS — "no history"
    * must not pass a gate that asked for a comparison (the same
    * no-signal rule as an all-null mean). Bootstrap by storing the
    * first snapshot via [[appendExpectationSnapshot]] and gating from
    * the second run on.
    */
  def expectationsAgainstBaseline(
      cur: DataFrame,
      expects: Seq[graft.verdict.Expectations.Expect],
      groupCols: Seq[String],
      path: String,
      approxDistinct: Boolean = false,
      excludeSnapshotId: String = null): DataFrame = {
    val spark = cur.sparkSession
    val baseline =
      // No store, or a meta sidecar without data (crashed/zero-row
      // first append): both are "no history" — first-run FAIL path.
      if (!exists(spark, s"$path/meta") || !exists(spark, s"$path/data"))
        // Typed empty frame (group columns borrowed from `cur` so join
        // key types line up).
        cur.select(groupCols.map(col): _*)
          .withColumn("check", lit(""))
          .withColumn("column", lit(""))
          .withColumn("observed", lit(0d))
          .limit(0)
      else {
        val (snap, meta) =
          loadLatestExpectations(spark, path, excludeSnapshotId)
        require(meta.groupCols == groupCols.mkString(","),
          s"expectation store at $path was built with groupCols=" +
            s"'${meta.groupCols}', not '${groupCols.mkString(",")}'")
        snap
      }
    graft.verdict.Expectations.evaluateRelative(
      cur, expects, baseline, groupCols, approxDistinct)
  }
}
