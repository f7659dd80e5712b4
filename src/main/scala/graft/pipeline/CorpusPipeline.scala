package graft.pipeline

import graft.compile.RuleCompiler
import graft.dedup.Dedup
import graft.pack.Packing
import graft.sample.Sampling
import graft.schema.Schema
import graft.text.TextAnalysis
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** End-to-end corpus curation: the composition a training-data user
  * actually runs, built ONLY from the engine's own operators:
  *
  *   1. validate  — keep rows with zero failing-channel violations
  *                  (warnings pass, cf. severity semantics);
  *   2. dedup     — exact content dedup, deterministic min-id survivor;
  *   3. quality   — composite quality score ≥ threshold;
  *   4. sample    — deterministic stratified downsampling per language;
  *   5. pack      — sequence packing into a token/char budget.
  *
  * Every stage is deterministic and engine-reproducible, so the whole
  * pipeline's per-stage row counts can be replayed exactly by the
  * DuckDB oracle (`q_pipeline_documents`) — the curation run is
  * auditable end to end, not a black box.
  *
  * At scale each stage is the operator's documented plan (no extra
  * shuffles added by the composition); a production run would persist
  * the stage boundaries it wants to audit/restart from (cf.
  * [[graft.resume.Checkpoint]]) rather than recompute the lineage per
  * metric, which is fine at test scale.
  */
object CorpusPipeline {

  final case class Config(
      schema: Schema,
      idCol: String = "doc_id",
      textCol: String = "text",
      strataCol: String = "lang",
      qualityMin: Double = 0.0,
      sampleRates: Map[String, Double] = Map.empty,
      defaultRate: Double = 1.0,
      packBudget: Long = 2000L,
      packBuckets: Int = 16,
      seed: Long = 42L)

  /** The curated, pack-annotated corpus (one row per surviving doc with
    * `quality`, `pack_bucket`, `pack_id` columns).
    */
  def curate(docs: DataFrame, cfg: Config): DataFrame =
    curateScoped(docs, cfg, Nil)

  /** [[curate]] with every CROSS-ROW stage scoped to `partitionCol`:
    * dedup survivors are per (partition, content) and packs never cross
    * a partition, so each partition's output is a pure function of that
    * partition's rows — identical whether partitions are processed all
    * at once or in resumed batches. That per-partition determinism is
    * exactly what [[curateResumable]]'s commit protocol requires (and
    * what a partition-committed pipeline means at 100 TB: corpus-GLOBAL
    * dedup is its own upstream job — see [[graft.dedup.Dedup]] — not a
    * per-partition stage). Per-row stages (validation, quality,
    * sampling) are scope-independent by construction.
    */
  def curatePartitioned(
      docs: DataFrame,
      cfg: Config,
      partitionCol: String): DataFrame =
    curateScoped(docs, cfg, Seq(partitionCol))

  private def curateScoped(
      docs: DataFrame,
      cfg: Config,
      scopeCols: Seq[String]): DataFrame = {
    val clean = docs
      .withColumn("__n_err", RuleCompiler.errorCount(cfg.schema))
      .where(col("__n_err") === 0)
      .drop("__n_err")
    val deduped = Dedup.exactDedup(clean, cfg.idCol, cfg.textCol, scopeCols)
    val scored = TextAnalysis.qualityFeatures(deduped, cfg.textCol)
      .where(col("quality") >= cfg.qualityMin)
      .select(deduped.columns.map(col) :+ col("quality"): _*)
    val sampled = Sampling.stratified(scored, cfg.idCol, cfg.strataCol,
      cfg.sampleRates, cfg.defaultRate, cfg.seed)
    Packing.packByBudget(packable(sampled, cfg)
        .withColumn("__w", length(col(cfg.textCol))),
      cfg.idCol, "__w", cfg.packBudget, cfg.packBuckets, cfg.seed, scopeCols)
      .drop("__w")
  }

  /** The pack-input filter, applied identically by [[curate]] and
    * [[metrics]] stage 4 — packByBudget drops null-id / zero-weight
    * rows, and the audit funnel must count the SAME survivors the
    * curated output contains (for schemas whose rules already reject
    * null/empty text this filter is a no-op).
    */
  private def packable(df: DataFrame, cfg: Config): DataFrame =
    df.where(col(cfg.idCol).isNotNull && length(col(cfg.textCol)) > 0)

  /** Per-stage audit metrics: `(stage, n_rows)` for input / validated /
    * deduped / quality / sampled, plus the final pack count — the
    * auditable funnel a curation run reports.
    *
    * ONE-PASS: every row is tagged with the furthest stage it survives
    * (validation/quality/sampling are per-row flags; the dedup survivor
    * and the pack assignment come from conditional window sums over the
    * same keys the standalone operators use), and all six counts fall
    * out of a SINGLE aggregation — one job, one scan, two keyed window
    * exchanges, instead of six jobs over a cached lineage prefix.
    * Semantics are identical to running the stages separately (pinned
    * by PipelineSpec against [[curate]] and by the exact DuckDB replay
    * of `q_pipeline_documents`).
    */
  def metrics(docs: DataFrame, cfg: Config): DataFrame = {
    val spark = docs.sparkSession
    // Stage flags. s1: zero failing-channel violations.
    val s1 = RuleCompiler.errorCount(cfg.schema) === 0
    // s2: the min-id validated row of its content-hash group — a
    // conditional rank: "first validated row in hash-group id order"
    // ≡ Dedup.exactDedup(validated rows) keeping rn=1.
    val wHash = Window
      .partitionBy(Dedup.contentHash(cfg.textCol))
      .orderBy(col(cfg.idCol).asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // s3/s4: pure projections (quality score, deterministic sampling,
    // packability) — identical per-row values at any composition depth.
    // The quality regexes sit on the RIGHT of a short-circuiting AND so
    // they only evaluate for dedup survivors (codegen skips the right
    // operand when the left is false) — same cost profile as the
    // multi-job funnel, which scored only the deduped frame.
    val s3 = TextAnalysis.qualityScore(col(cfg.textCol)) >= cfg.qualityMin
    val s4 = Sampling.stratifiedKeep(cfg.idCol, cfg.strataCol,
      cfg.sampleRates, cfg.defaultRate, cfg.seed) &&
      col(cfg.idCol).isNotNull && length(col(cfg.textCol)) > 0
    val tagged = docs
      .withColumn("__s1", s1 && col(cfg.textCol).isNotNull)
      .withColumn("__valid", s1) // validated stage counts null-text rows too
      .withColumn("__rk",
        sum(when(col("__s1"), 1L).otherwise(0L)).over(wHash))
      .withColumn("__s2", col("__s1") && col("__rk") === 1L)
      .withColumn("__s3", col("__s2") && s3)
      .withColumn("__s4", col("__s3") && s4)
    // Pack assignment for stage-4 survivors: the SAME bucket/cumsum
    // arithmetic as Packing.packByBudget, restricted to surviving rows
    // via a conditional window sum (non-survivors contribute zero).
    val wBucket = Window
      .partitionBy(col("__bucket"))
      .orderBy(col(cfg.idCol).asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val weight = length(col(cfg.textCol))
    val packed = tagged
      .withColumn("__bucket",
        (Sampling.bucket(col(cfg.idCol), cfg.seed) % cfg.packBuckets).cast("int"))
      .withColumn("__cum",
        sum(when(col("__s4"), weight.cast("long")).otherwise(0L)).over(wBucket))
      .withColumn("__pack",
        when(col("__s4"), floor((col("__cum") - weight) / cfg.packBudget).cast("long")))
    val agg = packed.agg(
      count(lit(1)).as("n0"),
      sum(when(col("__valid"), 1L).otherwise(0L)).as("n1"),
      sum(when(col("__s2"), 1L).otherwise(0L)).as("n2"),
      sum(when(col("__s3"), 1L).otherwise(0L)).as("n3"),
      sum(when(col("__s4"), 1L).otherwise(0L)).as("n4"),
      countDistinct(when(col("__s4"),
        struct(col("__bucket"), col("__pack")))).as("n5"))
    agg.select(explode(array(
      struct(lit("0_input").as("stage"), col("n0").as("n_rows")),
      struct(lit("1_validated").as("stage"), col("n1").as("n_rows")),
      struct(lit("2_deduped").as("stage"), col("n2").as("n_rows")),
      struct(lit("3_quality").as("stage"), col("n3").as("n_rows")),
      struct(lit("4_sampled").as("stage"), col("n4").as("n_rows")),
      struct(lit("5_packs").as("stage"), col("n5").as("n_rows")))).as("s"))
      .select(col("s.stage").as("stage"), col("s.n_rows").as("n_rows"))
  }

  /** Outcome of one [[curateResumable]] invocation: partitions this run
    * processed, partitions already committed before it, and the full
    * curated table (all committed partitions) read back from `outDir`.
    */
  final case class ResumeReport(
      runId: String,
      pending: Seq[String],
      skipped: Long,
      curated: DataFrame)

  /** RESUMABLE curation: [[curatePartitioned]] composed with the
    * [[graft.resume.Checkpoint]] commit protocol — the funnel resumes
    * per input partition under the same manifest as validation
    * ([[graft.resume.ValidationRun]], which instead slices by the
    * manifest's complement and so needs no pending scan):
    *
    *   1. pending = input partitions with no manifest row (anti-join
    *      against the O(partitions) manifest — prior OUTPUT is never
    *      rescanned to decide work);
    *   2. ONE job curates every pending partition together (one
    *      predicate → scan pruning; no driver-side per-partition loop)
    *      and writes `outDir/curated/<partitionCol>=…` via dynamic
    *      partition overwrite — a crashed run's partial partitions are
    *      rewritten bit-identically on retry (per-partition
    *      determinism, [[curatePartitioned]]);
    *   3. the manifest append is the single commit point, AFTER the
    *      data write: per partition `n_rows` = input rows, `n_bad_rows`
    *      = rows the whole funnel dropped, `n_violations` = rule
    *      violations observed, `pass` = zero failing-channel
    *      violations (the same manifest schema as validation — one
    *      resume protocol across the engine).
    *
    * A killed run leaves at worst uncommitted partitions; re-running
    * skips committed ones and produces a curated table identical to an
    * uninterrupted run (pinned in PipelineSpec).
    */
  def curateResumable(
      docs: DataFrame,
      cfg: Config,
      partitionCol: String,
      outDir: String): ResumeReport = {
    import graft.resume.Checkpoint
    import org.apache.spark.sql.SaveMode
    val spark = docs.sparkSession
    val runId = java.util.UUID.randomUUID().toString
    val t0 = System.currentTimeMillis()
    val pendingParts = Checkpoint.pending(docs, partitionCol, outDir)
    val done = Checkpoint.processed(spark, outDir).count()
    // The curated table is read back with the funnel's own analysed
    // schema (no job), in its column order — so the partition column
    // keeps its input position and type instead of landing last with a
    // partition-inferred type, and a curated/ holding only _SUCCESS (a
    // run whose funnel dropped every row) reads as empty. curated/
    // never written AND zero done partitions in the manifest (empty
    // input over a fresh outDir) is a typed empty frame of the same
    // schema. A MISSING directory while the manifest says work WAS done
    // is data loss and stays loud, not read back as legitimately empty.
    val curatedSchema = StructType(
      curatePartitioned(docs.limit(0), cfg, partitionCol).schema
        .map(_.copy(nullable = true)))
    def curatedTable(): DataFrame =
      try spark.read.schema(curatedSchema).parquet(s"$outDir/curated")
        .select(curatedSchema.fieldNames.map(col): _*)
      catch {
        case e: org.apache.spark.sql.AnalysisException
            if e.getMessage != null &&
              e.getMessage.contains("PATH_NOT_FOUND") &&
              // re-derived at READ time — the pre-run `done` count is
              // stale once this run commits partitions, and a stale 0
              // would mask post-commit loss of the curated directory
              Checkpoint.processed(spark, outDir).isEmpty =>
          spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], curatedSchema)
      }
    if (pendingParts.isEmpty)
      return ResumeReport(runId, Nil, done, curatedTable())

    val slice = docs.where(Checkpoint.partitionFilter(partitionCol, pendingParts))
    curatePartitioned(slice, cfg, partitionCol)
      .write
      .mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partitionCol)
      .parquet(s"$outDir/curated")

    // Manifest stats: one aggregate over the input slice (+ a
    // metadata-cheap count of what landed), keyed by the sentinel-
    // mapped partition value.
    val partKey = Checkpoint.partitionKey(partitionCol).as("partition")
    val inStats = slice
      .withColumn("__n_err", RuleCompiler.errorCount(cfg.schema))
      .withColumn("__n_viol", RuleCompiler.violationCount(cfg.schema))
      .groupBy(partKey)
      .agg(count(lit(1)).as("n_rows"),
        sum(col("__n_viol").cast("long")).as("n_violations"),
        (sum(col("__n_err").cast("long")) === 0L).as("pass"))
    val outStats = curatedTable()
      .select(Checkpoint.partitionKey(partitionCol).as("partition"))
      .where(col("partition").isin(pendingParts: _*))
      .groupBy(col("partition"))
      .agg(count(lit(1)).as("__n_out"))
    val wallMs = System.currentTimeMillis() - t0
    val entries = inStats
      .join(outStats, Seq("partition"), "left_outer")
      .select(
        col("partition"),
        lit(runId).as("run_id"),
        col("n_rows"),
        (col("n_rows") - coalesce(col("__n_out"), lit(0L))).as("n_bad_rows"),
        col("n_violations"),
        col("pass"),
        lit(wallMs).as("wall_ms"),
        lit(System.currentTimeMillis()).as("completed_at"))
    Checkpoint.commit(spark, outDir, entries)
    ResumeReport(runId, pendingParts, done, curatedTable())
  }
}
