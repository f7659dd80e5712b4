package graft

import graft.pipeline.CorpusPipeline
import graft.schema.{FieldSpec, Schema}
import org.apache.spark.sql.functions._

class PipelineSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = spark.read.parquet(sf("sf0.01") + "/documents.parquet")

  private val cfg = CorpusPipeline.Config(
    schema = Schema.of(
      "text" -> FieldSpec(required = true, notEmpty = true),
      "lang" -> FieldSpec(required = true,
        allowed = Some(Seq("de", "en", "es", "fr", "zh")))),
    qualityMin = 0.5,
    sampleRates = Map("en" -> 0.5))

  test("curation funnel: monotone stage counts, curated output consistent with metrics") {
    val m = CorpusPipeline.metrics(docs, cfg).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(m("0_input") === docs.count())
    // each filtering stage can only shrink the corpus
    assert(m("1_validated") <= m("0_input"))
    assert(m("2_deduped") <= m("1_validated"))
    assert(m("3_quality") <= m("2_deduped"))
    assert(m("4_sampled") <= m("3_quality"))
    assert(m("4_sampled") > 0)
    assert(m("5_packs") > 0 && m("5_packs") <= m("4_sampled"))

    val curated = CorpusPipeline.curate(docs, cfg)
    assert(curated.count() === m("4_sampled"))
    // curated rows carry quality + pack assignment and are real inputs
    assert(curated.columns.contains("quality"))
    assert(curated.columns.contains("pack_id"))
    assert(curated.agg(min($"quality")).head().getDouble(0) >= 0.5)
    val ids = curated.select($"doc_id").as[Long].collect().toSet
    val all = docs.select($"doc_id").as[Long].collect().toSet
    assert(ids.subsetOf(all))
    // deterministic end to end
    val again = CorpusPipeline.curate(docs, cfg)
      .select($"doc_id", $"pack_bucket", $"pack_id")
      .as[(Long, Int, Long)].collect().toSet
    val first = curated.select($"doc_id", $"pack_bucket", $"pack_id")
      .as[(Long, Int, Long)].collect().toSet
    assert(first === again)
  }

  test("curateResumable: interrupted run resumes per partition, equals uninterrupted") {
    import graft.resume.Checkpoint
    def key(df: org.apache.spark.sql.DataFrame) =
      df.select($"doc_id", $"lang", $"pack_bucket", $"pack_id")
        .as[(Long, String, Int, Long)].collect().toSet
    val base = java.nio.file.Files.createTempDirectory("graft-curate").toString
    // ONE uninterrupted run over everything.
    val full = CorpusPipeline.curateResumable(docs, cfg, "lang", s"$base/full")
    assert(full.pending.toSet === docs.select($"lang").distinct()
      .as[String].collect().toSet)
    // Interrupted run: only two languages arrive before the "crash"...
    val out2 = s"$base/resumed"
    val firstBatch = CorpusPipeline.curateResumable(
      docs.where($"lang".isin("en", "de")), cfg, "lang", out2)
    assert(firstBatch.pending.toSet === Set("en", "de"))
    // ...the re-run over the FULL input skips the committed partitions
    val resumed = CorpusPipeline.curateResumable(docs, cfg, "lang", out2)
    assert(resumed.skipped === 2)
    assert(resumed.pending.toSet ===
      full.pending.toSet -- Set("en", "de"))
    // and the stitched table is IDENTICAL to the uninterrupted run
    assert(key(resumed.curated) === key(full.curated))
    // a third run finds nothing pending and rescans no corpus
    val noop = CorpusPipeline.curateResumable(docs, cfg, "lang", out2)
    assert(noop.pending.isEmpty)
    assert(noop.skipped === full.pending.size)
    assert(key(noop.curated) === key(full.curated))
    // manifest funnel accounting: dropped = input − curated, per partition
    val m = Checkpoint.processed(spark, out2)
      .select($"partition", $"n_rows", $"n_bad_rows")
      .as[(String, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    val inEn = docs.where($"lang" === "en").count()
    val outEn = full.curated.where($"lang" === "en").count()
    assert(m("en") === ((inEn, inEn - outEn)))
    // per-partition determinism: a partition's rows are identical
    // whether curated alone or in the full batch
    assert(key(resumed.curated.where($"lang" === "en")) ===
      key(full.curated.where($"lang" === "en")))
  }

  test("curateResumable: empty input over a fresh outDir is an empty report, not a crash") {
    val dir = java.nio.file.Files.createTempDirectory("graft-curate-empty").toString
    val r = CorpusPipeline.curateResumable(docs.limit(0), cfg, "lang", s"$dir/out")
    assert(r.pending.isEmpty && r.skipped === 0L && r.curated.isEmpty)
  }

  test("curateResumable: the empty report and the read-back report share one schema") {
    val dir = java.nio.file.Files.createTempDirectory("graft-curate-schema").toString
    val empty = CorpusPipeline.curateResumable(docs.limit(0), cfg, "lang", s"$dir/empty")
    val full = CorpusPipeline.curateResumable(docs, cfg, "lang", s"$dir/full")
    assert(full.curated.count() > 0)
    // same columns, same order, same types: "lang" is not moved last
    // or re-typed by partition discovery
    assert(empty.curated.schema === full.curated.schema)
    assert(full.curated.columns.toSeq ===
      CorpusPipeline.curate(docs.limit(0), cfg).columns.toSeq)
    // a funnel that drops every row leaves curated/ with no data file;
    // it still reads back empty, with the same schema
    val none = CorpusPipeline.curateResumable(docs, cfg.copy(qualityMin = 2.0),
      "lang", s"$dir/none")
    assert(none.pending.nonEmpty && none.curated.isEmpty)
    assert(none.curated.schema === full.curated.schema)
  }
}
