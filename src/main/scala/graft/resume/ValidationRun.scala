package graft.resume

import graft.compile.RuleCompiler
import graft.schema.Schema
import graft.validate.Validator
import graft.verdict.Verdict
import org.apache.spark.sql.{DataFrame, Observation, Row, SaveMode}
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** End-to-end resumable validation run: violations + per-partition
  * verdicts + lineage metrics, committed per partition via
  * [[Checkpoint]].
  *
  * A run into a fresh `outDir` is ONE Spark job: the violations write
  * over every uncommitted partition together (the complement of the
  * manifest's committed keys — partition pruning at the scan when the
  * input is partitioned by `partitionCol`; no driver-side per-partition
  * loop, so wall-clock does not degrade with partition count). The per-
  * partition verdict counts are observed in that same pass
  * ([[Verdict.observeCounts]]), so the pending partitions are the
  * observed keys, and the verdict and manifest rows are built on the
  * driver from them and written there, one file each
  * ([[Checkpoint.writeRows]]). The manifest file's rename AFTER the
  * data writes is the single commit point for every partition in the
  * batch (validate-all-then-commit, cf. reference import flow
  * app/.../HomeViewModel.kt:168-175). A run into an `outDir` with a
  * manifest reads it first: one more job.
  *
  * The violations land in `violations/run_id=<runId>/`, one file per
  * scan task with violations, whatever the number of partition values.
  * Every run, committing or not, ends by deleting the run directories
  * and verdicts files that no manifest row names
  * ([[Checkpoint.removeOrphans]]): file-system listings, no job. An
  * `outDir` whose violations are in the layout before one directory per
  * run is refused before anything is written
  * ([[Checkpoint.requireRunLayout]]).
  */
object ValidationRun {

  final case class Report(
      runId: String,
      pending: Seq[String],
      skipped: Long,
      verdicts: DataFrame
  )

  def run(
      df: DataFrame,
      schema: Schema,
      partitionCol: String,
      keyCols: Seq[String],
      outDir: String
  ): Report = {
    val spark = df.sparkSession
    Checkpoint.requireRunLayout(spark, outDir)
    val runId = Checkpoint.newRunId()
    val t0 = System.currentTimeMillis()

    val committed = Checkpoint.committed(spark, outDir)
    val slice =
      if (committed.isEmpty) df
      else df.where(Checkpoint.uncommittedFilter(partitionCol, committed.map(_._1)))

    // Data writes first, appended as this run's own directory: no manifest
    // row names it until the commit below, so a crashed run's rows stay
    // invisible to the reader. The verdict counts are observed in the
    // same pass …
    val observation = Observation()
    // The partition column may be a key column too (per-repo resume).
    val keys = (keyCols :+ partitionCol).distinct
    Validator
      .explodeViolations(
        Verdict.observeCounts(slice, schema, Checkpoint.partitionKey(partitionCol),
          keys.map(col) :+ RuleCompiler.violationsArray(schema).as(Validator.ViolationsCol),
          observation),
        keys)
      .withColumn("run_id", lit(runId))
      .write
      .mode(SaveMode.Append)
      .partitionBy("run_id")
      .parquet(Checkpoint.violationsPath(outDir))
    val counts = Verdict.observedCounts(observation)
    val field = df.schema(partitionCol)
    val verdictSchema = Verdict.verdictSchema(field)
    val committedRuns = committed.map(_._2).toSet
    if (counts.isEmpty) {
      Checkpoint.removeOrphans(spark, outDir, committedRuns)
      return Report(runId, Nil, committed.size,
        spark.createDataFrame(java.util.List.of[Row](), verdictSchema))
    }

    val verdicts = Verdict.verdictRows(runId,
      counts.map { case (k, c) => Checkpoint.partitionValue(k, field.dataType) -> c })
    Checkpoint.writeRows(spark, Checkpoint.verdictsPath(outDir), verdictSchema, verdicts,
      Checkpoint.verdictsFileStem(runId))

    // … then the manifest file is the commit point.
    val wallMs = System.currentTimeMillis() - t0
    val completedAt = System.currentTimeMillis()
    Checkpoint.commit(spark, outDir, counts.map { case (k, c) =>
      Row(k, runId, c.nRows, c.nBadRows, c.nViolations, c.pass, wallMs, completedAt)
    })
    // Last, remove what a crashed run left: every run directory and
    // verdicts file that no manifest row names.
    Checkpoint.removeOrphans(spark, outDir, committedRuns + runId)

    Report(runId, counts.map(_._1), committed.size,
      spark.createDataFrame(verdicts.asJava, verdictSchema))
  }
}
