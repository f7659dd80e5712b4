package graft

import graft.schema.{FieldSpec, Schema}
import graft.streaming.StreamingValidator
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import java.nio.file.Files

class StreamingSpec extends SparkSpec {

  private val evSchema = Schema.of(
    "event_type" -> FieldSpec(
      required = true,
      allowed = Some(Seq("click", "view", "purchase", "signup"))),
    "value" -> FieldSpec(min = Some(0d), max = Some(400d)))

  test("streaming validation matches the batch path on the same data") {
    val src = Files.createTempDirectory("graft-stream-src").toString
    val batch = spark.read.parquet(sf("sf0.001") + "/events.parquet")
    batch.write.mode("overwrite").parquet(src)

    val stream = spark.readStream.schema(batch.schema).parquet(src)
    val out = graft.validate.Validator
      .violations(stream, evSchema, Seq("event_id"))
      .writeStream
      .format("memory")
      .queryName("violations_stream")
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    out.awaitTermination(60000)

    val streamed = spark.table("violations_stream")
    val direct = graft.validate.Validator.violations(batch, evSchema, Seq("event_id"))
    assert(streamed.count() > 0)
    assert(streamed.exceptAll(direct).isEmpty && direct.exceptAll(streamed).isEmpty)
  }

  test("verdict sink: foreachBatch publishes through the manifest commit protocol (ST3)") {
    val src = Files.createTempDirectory("graft-stream-src3").toString
    val out = Files.createTempDirectory("graft-stream-out").toString
    val batch = spark.read.parquet(sf("sf0.001") + "/events.parquet")
    batch.write.mode("overwrite").parquet(src)

    val stream = spark.readStream.schema(batch.schema).parquet(src)
    val q = StreamingValidator.verdictSink(stream, evSchema, "event_type", out,
      trigger = Trigger.AvailableNow())
    q.awaitTermination(60000)

    // Verdicts written per micro-batch equal the batch rollup...
    val direct = graft.verdict.Verdict.compute(batch, evSchema, "event_type")
    val written = spark.read.parquet(s"$out/verdicts").drop("run_id")
    assert(written.exceptAll(direct).isEmpty && direct.exceptAll(written).isEmpty)

    // ...and every partition's verdict is manifest-committed with
    // per-batch lineage.
    val manifest = graft.resume.Checkpoint.processed(spark, out).collect()
    assert(manifest.nonEmpty)
    assert(manifest.forall(_.getAs[String]("run_id").startsWith("batch-")))
    val committedParts = manifest.map(_.getAs[String]("partition")).toSet
    val expectedParts = batch.select("event_type").distinct()
      .collect().map(_.getString(0)).toSet
    assert(committedParts === expectedParts)
  }

  test("stateful keyed view: transition function accumulates; TTL timeout emits final expired row (ST4/ST6)") {
    import org.apache.spark.api.java.Optional
    import org.apache.spark.sql.streaming.{GroupStateTimeout, TestGroupState}
    import StreamingValidator.{KeyTotals, updateKeyTotals}

    val fresh = TestGroupState.create[KeyTotals](
      Optional.empty(), GroupStateTimeout.ProcessingTimeTimeout,
      1000L, Optional.empty[Long](), hasTimedOut = false)
    val out1 = updateKeyTotals("k",
      Iterator(("k", 2L, 1L), ("k", 0L, 0L)), fresh, ttlMs = 5000L)
    assert(out1 === StreamingValidator.KeyVerdict("k", 2L, 2L, 1L, pass = false, expired = false))
    assert(fresh.get === KeyTotals(2L, 2L, 1L))

    val carried = TestGroupState.create[KeyTotals](
      Optional.of(fresh.get), GroupStateTimeout.ProcessingTimeTimeout,
      2000L, Optional.empty[Long](), hasTimedOut = false)
    val out2 = updateKeyTotals("k", Iterator(("k", 1L, 0L)), carried, 5000L)
    assert(out2.n_rows === 3L && out2.n_violations === 3L && out2.n_errors === 1L)

    val timedOut = TestGroupState.create[KeyTotals](
      Optional.of(carried.get), GroupStateTimeout.ProcessingTimeTimeout,
      99000L, Optional.empty[Long](), hasTimedOut = true)
    val out3 = updateKeyTotals("k", Iterator.empty, timedOut, 5000L)
    assert(out3.expired && out3.n_rows === 3L)
    assert(!timedOut.exists) // state dropped — bounded on unbounded keys
  }

  test("stateful keyed view end-to-end: running totals across micro-batches (update mode)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[(Long, String, Double)]
    val df = input.toDF.toDF("event_id", "event_type", "value")
    val q = StreamingValidator.statefulKeyedVerdicts(df, evSchema, "event_type")
      .writeStream.format("memory").queryName("key_state")
      .outputMode("update").start()
    try {
      input.addData((1L, "click", 10.0), (2L, "click", 999.0)) // 999 > max=400
      q.processAllAvailable()
      input.addData((3L, "click", 5.0))
      q.processAllAvailable()
      val rows = spark.table("key_state").collect()
        .filter(_.getAs[String]("key") === "click")
      val last = rows.maxBy(_.getAs[Long]("n_rows"))
      assert(last.getAs[Long]("n_rows") === 3L)
      assert(last.getAs[Long]("n_violations") === 1L)
      assert(last.getAs[Boolean]("pass") === false)
    } finally q.stop()
  }

  test("session windows: gap semantics + watermark closing, deterministic example") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val input = MemoryStream[(Long, String, Double, java.sql.Timestamp)]
    val df = input.toDF.toDF("event_id", "event_type", "value", "ts")
    val q = StreamingValidator
      .sessionWindowedVerdicts(df, evSchema, "ts", "event_type",
        gapDuration = "40 seconds", watermarkDelay = "0 seconds")
      .writeStream.format("memory").queryName("session_verdicts")
      .outputMode("append").start()
    try {
      // clicks at t=0 and t=30 merge (gap 30 < 40); t=120 is a new
      // session; the 999 value is a violation in session 1.
      input.addData(
        (1L, "click", 10.0, ts("2026-01-01 00:00:00")),
        (2L, "click", 999.0, ts("2026-01-01 00:00:30")),
        (3L, "click", 5.0, ts("2026-01-01 00:02:00")))
      q.processAllAvailable()
      // watermark advancer: a later event closes both click sessions
      input.addData((4L, "view", 1.0, ts("2026-01-01 01:00:00")))
      q.processAllAvailable()
      val rows = spark.table("session_verdicts").collect()
        .filter(_.getAs[String]("event_type") === "click")
        .sortBy(_.getAs[org.apache.spark.sql.Row]("session_window")
          .getAs[java.sql.Timestamp]("start").getTime)
      assert(rows.length === 2)
      val s1 = rows(0); val s2 = rows(1)
      assert(s1.getAs[Long]("n_rows") === 2L &&
        s1.getAs[Long]("n_violations") === 1L &&
        !s1.getAs[Boolean]("pass"))
      val w1 = s1.getAs[org.apache.spark.sql.Row]("session_window")
      // session end = last event + gap (end-exclusive)
      assert(w1.getAs[java.sql.Timestamp]("start") === ts("2026-01-01 00:00:00"))
      assert(w1.getAs[java.sql.Timestamp]("end") === ts("2026-01-01 00:01:10"))
      assert(s2.getAs[Long]("n_rows") === 1L && s2.getAs[Boolean]("pass"))
    } finally q.stop()
  }

  test("session windows: streaming output matches the batch session rollup on real events") {
    val src = Files.createTempDirectory("graft-stream-src4").toString
    val batch = spark.read.parquet(sf("sf0.001") + "/events.parquet")
    batch.write.mode("overwrite").parquet(src)

    val stream = spark.readStream.schema(batch.schema).parquet(src)
    val q = StreamingValidator
      .sessionWindowedVerdicts(stream, evSchema, "ts", "event_type",
        gapDuration = "30 minutes", watermarkDelay = "1 minute")
      .writeStream.format("memory").queryName("session_stream")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)

    val got = spark.table("session_stream")
    assert(got.count() > 0)
    // batch replay of the same session rollup; append mode only emits
    // sessions the final watermark closed
    val maxTs = batch.agg(max(col("ts").cast("timestamp"))).first().getTimestamp(0)
    val watermark = new java.sql.Timestamp(maxTs.getTime - 60000L)
    val batchRollup = graft.validate.Validator
      .annotate(batch.withColumn("ts", col("ts").cast("timestamp")), evSchema)
      .groupBy(session_window(col("ts"), "30 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("n_violations").cast("long")).as("n_violations"),
        (sum(col("n_violations").cast("long")) === 0L).as("pass"))
      .where(col("session_window.end") <= lit(watermark))
    assert(got.count() === batchRollup.count())
    assert(got.exceptAll(batchRollup).isEmpty)
  }

  test("streaming dedup: duplicates within the watermark dropped; state bounded") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val input = MemoryStream[(String, java.sql.Timestamp)]
    val df = input.toDF.toDF("content_sha", "ts")
    val q = StreamingValidator
      .streamingDedup(df, Seq("content_sha"), "ts", watermarkDelay = "10 minutes")
      .writeStream.format("memory").queryName("dedup_stream")
      .outputMode("append").start()
    try {
      input.addData(
        ("aaa", ts("2026-01-01 00:00:00")),
        ("aaa", ts("2026-01-01 00:00:05")), // dup within watermark → dropped
        ("bbb", ts("2026-01-01 00:00:10")))
      q.processAllAvailable()
      input.addData(("bbb", ts("2026-01-01 00:01:00"))) // dup, later batch
      q.processAllAvailable()
      val keys = spark.table("dedup_stream")
        .select($"content_sha").as[String].collect().toSeq
      assert(keys.sorted === Seq("aaa", "bbb")) // each key exactly once
    } finally q.stop()
  }

  test("windowed verdicts roll up violation counts per tumbling window") {
    val src = Files.createTempDirectory("graft-stream-src2").toString
    val batch = spark.read.parquet(sf("sf0.001") + "/events.parquet")
    batch.write.mode("overwrite").parquet(src)

    val stream = spark.readStream.schema(batch.schema).parquet(src)
    val q = StreamingValidator
      .windowedVerdicts(stream, evSchema, "ts", "event_type",
        windowLength = "1 hour", watermarkDelay = "1 minute")
      .writeStream
      .format("memory")
      .queryName("verdict_stream")
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)

    val got = spark.table("verdict_stream")
    // Append mode emits only watermark-closed windows: windows ending
    // after (max event time − delay) are withheld when the stream ends.
    val maxTs = batch.agg(max(col("ts").cast("timestamp"))).first().getTimestamp(0)
    val watermark = new java.sql.Timestamp(maxTs.getTime - 60000L)
    val batchRollup = graft.validate.Validator
      .annotate(batch, evSchema)
      .groupBy(window(col("ts").cast("timestamp"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("n_violations").cast("long")).as("n_violations"),
        (sum(col("n_violations").cast("long")) === 0L).as("pass"))
      .where(col("window.end") <= lit(watermark))
    assert(got.count() === batchRollup.count())
    assert(got.exceptAll(batchRollup).isEmpty)
  }

  test("expectations sink: per-batch table gates match the batch evaluation") {
    import graft.verdict.Expectations.Expect
    val src = Files.createTempDirectory("graft-stream-exp-src").toString
    val metrics = Files.createTempDirectory("graft-stream-exp-out").toString + "/m"
    val events = spark.read.parquet(sf("sf0.001") + "/events.parquet")
    events.write.mode("overwrite").parquet(src)
    val expects = Seq(
      Expect("row_count", lo = 10),
      Expect("null_frac", "value", hi = 0.5),
      Expect("max", "value", hi = 100))

    val stream = spark.readStream.schema(events.schema).parquet(src)
    val q = StreamingValidator.expectationsSink(stream, expects,
      Seq("event_type"), metrics,
      Files.createTempDirectory("graft-stream-exp-ck").toString,
      trigger = Trigger.AvailableNow())
    q.awaitTermination(60000)

    val direct = graft.verdict.Expectations
      .evaluate(events, expects, Seq("event_type"), approxDistinct = true)
    val written = spark.read.parquet(metrics).drop("batch_id")
    assert(written.count() > 0)
    assert(written.exceptAll(direct).isEmpty && direct.exceptAll(written).isEmpty)
    // the deliberately tight max bound fails somewhere — gates carry signal
    assert(written.where(!col("pass")).count() > 0)
  }

  test("drift sink: micro-batch PSI/KS vs the stored baseline; replay idempotent") {
    val src = Files.createTempDirectory("graft-stream-drift-src").toString
    val basePath = Files.createTempDirectory("graft-stream-drift-base").toString
    val metrics = Files.createTempDirectory("graft-stream-drift-out").toString + "/m"
    val events = spark.read.parquet(sf("sf0.001") + "/events.parquet")
    val base = events.where(col("event_id") % 2 === 0)
    val cur = events.where(col("event_id") % 2 === 1)
    graft.index.IndexStore.buildDriftBaseline(
      base, "value", Seq("event_type"), basePath, nBins = 8, exact = true)
    cur.write.mode("overwrite").parquet(src)

    val stream = spark.readStream.schema(cur.schema).parquet(src)
    val q = StreamingValidator.driftSink(stream, basePath, metrics,
      Files.createTempDirectory("graft-stream-drift-ck1").toString,
      trigger = Trigger.AvailableNow())
    q.awaitTermination(60000)

    val direct = graft.index.IndexStore.driftAgainstBaseline(cur, basePath)
    val written = spark.read.parquet(metrics).drop("batch_id")
    assert(written.count() > 0)
    assert(written.exceptAll(direct).isEmpty && direct.exceptAll(written).isEmpty)

    // Replay the whole source (fresh checkpoint): each batch rewrites
    // its own batch_id partition via dynamic overwrite, so the metrics
    // table is unchanged — no duplicated rows.
    val q2 = StreamingValidator.driftSink(stream, basePath, metrics,
      Files.createTempDirectory("graft-stream-drift-ck2").toString,
      trigger = Trigger.AvailableNow())
    q2.awaitTermination(60000)
    val replayed = spark.read.parquet(metrics).drop("batch_id")
    assert(replayed.exceptAll(direct).isEmpty && direct.exceptAll(replayed).isEmpty)
  }

  test("relative expectations sink: batch 0 fails (no history), batch 1 gates vs batch 0") {
    import graft.verdict.Expectations
    import graft.verdict.Expectations.Expect
    val src = Files.createTempDirectory("graft-stream-rexp-src").toString
    val store = Files.createTempDirectory("graft-stream-rexp-store").toString + "/s"
    val metrics = Files.createTempDirectory("graft-stream-rexp-out").toString + "/m"
    val ck = Files.createTempDirectory("graft-stream-rexp-ck").toString
    val events = spark.read.parquet(sf("sf0.001") + "/events.parquet")
    val even = events.where(col("event_id") % 2 === 0)
    val odd = events.where(col("event_id") % 2 === 1)
    val relChecks = Seq(
      Expect("row_count_rel", lo = 0.5, hi = 2.0),
      Expect("mean_rel", "value", lo = 0.5, hi = 2.0))

    def runOnce(): Unit = {
      val stream = spark.readStream.schema(events.schema).parquet(src)
      val q = StreamingValidator.relativeExpectationsSink(stream, relChecks,
        Seq("event_type"), store, metrics, ck,
        trigger = Trigger.AvailableNow())
      q.awaitTermination(60000)
    }
    // batch 0: even slice, no history → every bounded rel check FAILS
    even.write.mode("overwrite").parquet(src)
    runOnce()
    val b0 = spark.read.parquet(metrics).where(col("batch_id") === 0)
    assert(b0.count() > 0 && b0.where(col("pass")).count() === 0)
    // batch 1: odd slice (new file, same checkpoint) gates against the
    // batch-0 snapshot — identical to the direct batch evaluation
    odd.write.mode("append").parquet(src)
    runOnce()
    val b1 = spark.read.parquet(metrics).where(col("batch_id") === 1)
      .drop("batch_id")
    val direct = Expectations.evaluateRelative(odd, relChecks,
      Expectations.evaluate(even,
        Seq(Expect("row_count"), Expect("mean", "value")),
        Seq("event_type"), approxDistinct = true),
      Seq("event_type"), approxDistinct = true)
    assert(b1.count() > 0)
    assert(b1.exceptAll(direct).isEmpty && direct.exceptAll(b1).isEmpty)
    assert(b1.where(col("pass")).count() > 0) // ratios ≈ 1 inside the band
    // recovery semantics: a replayed batch re-gates against its
    // PREDECESSOR (own snapshot excluded), and re-writing its snapshot
    // rewrites the partition instead of duplicating rows
    val regate = graft.index.IndexStore.expectationsAgainstBaseline(
      odd, relChecks, Seq("event_type"), store,
      approxDistinct = true, excludeSnapshotId = "batch_1")
    assert(regate.exceptAll(direct).isEmpty && direct.exceptAll(regate).isEmpty)
    val rowsBefore = spark.read.parquet(s"$store/data").count()
    graft.index.IndexStore.appendExpectationSnapshot(odd,
      Seq(Expect("row_count"), Expect("mean", "value")),
      Seq("event_type"), store, "batch_1", approxDistinct = true)
    assert(spark.read.parquet(s"$store/data").count() === rowsBefore)
    val (latest, _) = graft.index.IndexStore.loadLatestExpectations(spark, store)
    assert(latest.select("snapshot_id").distinct().head().getString(0) === "batch_1")
  }

  test("relative expectations sink rejects historyKeep = 1 (replay needs the predecessor)") {
    import graft.verdict.Expectations.Expect
    val anyFrame = spark.range(1).toDF("v")
    assertThrows[IllegalArgumentException] {
      StreamingValidator.relativeExpectationsSink(anyFrame,
        Seq(Expect("row_count_rel", lo = 0.5)), Nil,
        "/tmp/unused-store", "/tmp/unused-metrics", "/tmp/unused-ck",
        historyKeep = 1)
    }
  }
}
