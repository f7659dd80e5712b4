package graft

import graft.index.IndexStore
import org.apache.spark.sql.functions._

/** Build-once/query-many index persistence: stored indices reproduce
  * the direct-compute results exactly, and a query against a stored
  * index reads the index instead of rescanning its source.
  */
class IndexStoreSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = spark.read.parquet(sf("sf0.001") + "/documents.parquet")

  private def tmpDir(name: String): String = {
    val d = java.nio.file.Files.createTempDirectory(s"graft-idx-$name")
    d.toFile.deleteOnExit()
    d.toString
  }

  test("bloom: stored filter probes like a fresh build; append folds a new dim slice in") {
    import graft.data.SynthGen
    import graft.refint.RefIntegrity
    val files = SynthGen.codeFiles(spark, SynthGen.Config(rows = 6000L))
    val dim = SynthGen.dimCommits(spark, SynthGen.Config(rows = 6000L))
    val keys = Seq("repo", "commit")
    val path = tmpDir("bloom")

    // Build over HALF the dim, then append the full dim (idempotent
    // re-inserts): the stored filter must now cover every dim key.
    IndexStore.buildBloom(dim.where(xxhash64(col("repo"), col("commit")) % 2 === 0),
      keys, path, expectedItems = 10000L, fpp = 0.01)
    IndexStore.appendBloom(dim, path)

    val (bytes, meta) = IndexStore.loadBloom(spark, path)
    assert(meta.keys === "repo,commit" && meta.fpp === 0.01)
    val plain = RefIntegrity.orphans(files, dim, keys)
    val fast = RefIntegrity.orphansWithBloom(files, dim, keys, bytes)
    assert(fast.exceptAll(plain).isEmpty && plain.exceptAll(fast).isEmpty)
    // and the approximate path still never invents an orphan
    assert(RefIntegrity.orphansApprox(files, keys, bytes)
      .exceptAll(plain).isEmpty)
  }

  test("kind mismatch fails loudly at load") {
    val path = tmpDir("kind")
    IndexStore.buildBloom(docs, Seq("doc_id"), path, expectedItems = 1000L)
    val e = intercept[IllegalArgumentException] {
      IndexStore.loadDriftBaseline(spark, path)
    }
    assert(e.getMessage.contains("'bloom'"))
  }

  test("drift baseline: stored sketch scores == direct compare; baseline never rescanned") {
    val path = tmpDir("drift")
    val base = docs.where(col("doc_id") % 2 === 0)
    val cur = docs.where(col("doc_id") % 2 === 1)
    IndexStore.buildDriftBaseline(base, "n_chars", Seq("lang"), path,
      nBins = 8, exact = true)

    val (_, meta) = IndexStore.loadDriftBaseline(spark, path)
    assert(meta.valueCol === "n_chars" && meta.edges.length === 7)
    val stored = IndexStore.driftAgainstBaseline(cur, path)
      .as[(String, Long, Long, Double, Double)].collect().toSet
    val direct = graft.drift.Drift.compareWithEdges(cur, base, "n_chars",
        Seq("lang"), meta.edges.toArray)
      .as[(String, Long, Long, Double, Double)].collect().toSet
    assert(stored === direct && stored.nonEmpty)
  }

  test("drift baseline append: build-half + append-half == build-full (same edges)") {
    val parts = tmpDir("drift-p")
    val a = docs.where(col("doc_id") % 3 === 0)
    val b = docs.where(col("doc_id") % 3 =!= 0)
    val cur = docs.where(col("doc_id") % 5 === 0)

    IndexStore.buildDriftBaseline(a, "n_chars", Seq("lang"), parts,
      nBins = 6, exact = true)
    val n = IndexStore.appendDriftBaseline(b, parts, "rest")
    assert(n > 0)
    // Whole-build sketch with the SAME edges (append keeps build edges,
    // so force them by sketching a union against the stored edges).
    val (_, meta) = IndexStore.loadDriftBaseline(spark, parts)
    val storedScores = IndexStore.driftAgainstBaseline(cur, parts)
      .as[(String, Long, Long, Double, Double)].collect().toSet
    val directScores = graft.drift.Drift.compareWithBaselineEdges(cur,
        graft.drift.Drift.binsByEdges(a.unionByName(b), "n_chars",
          Seq("lang"), meta.edges.toArray),
        "n_chars", Seq("lang"), meta.edges.toArray)
      .as[(String, Long, Long, Double, Double)].collect().toSet
    assert(storedScores === directScores && storedScores.nonEmpty)
  }

  test("drift baseline append: a retried slice replaces its rows, never counts them twice") {
    val path = tmpDir("drift-retry")
    IndexStore.buildDriftBaseline(docs.where(col("doc_id") % 2 === 0), "n_chars", Seq("lang"), path,
      nBins = 4, exact = true)
    def stored() = IndexStore.loadDriftBaseline(spark, path)._1.agg(sum(col("n"))).head().getLong(0)
    assert(stored() === 250L)
    val odd = docs.where(col("doc_id") % 2 === 1)
    assert(IndexStore.appendDriftBaseline(odd, path, "odd") > 0)
    assert(stored() === 500L)
    IndexStore.appendDriftBaseline(odd, path, "odd")
    assert(stored() === 500L)
  }

  test("drift baseline in the pre-versioned layout fails loudly and says to rebuild") {
    val path = tmpDir("drift-old")
    val base = docs.where(col("doc_id") % 2 === 0)
    val edges = graft.drift.Drift.quantileEdges(base, "n_chars", 4, exact = true)
    // the layout before versions: bins at the root of data/, the edges in meta/
    graft.drift.Drift.binsByEdges(base, "n_chars", Seq("lang"), edges)
      .withColumn("slice_id", lit("build")).write.partitionBy("slice_id").parquet(s"$path/data")
    Seq(IndexStore.DriftMeta("drift", "n_chars", "lang", edges.toSeq)).toDS()
      .coalesce(1).write.json(s"$path/meta")
    val e = intercept[IllegalArgumentException](IndexStore.loadDriftBaseline(spark, path))
    assert(e.getMessage.contains(path) && e.getMessage.contains("rebuild"))
    intercept[IllegalArgumentException](IndexStore.appendDriftBaseline(base, path, "more"))
    // a rebuild over it is readable
    IndexStore.buildDriftBaseline(base, "n_chars", Seq("lang"), path, nBins = 8, exact = true)
    val (bins, meta) = IndexStore.loadDriftBaseline(spark, path)
    assert(meta.edges.length === 7 && bins.agg(sum(col("n"))).head().getLong(0) === 250L)
  }

  test("bloom publish: numerically latest version wins; a stranded temp is cleared") {
    val path = tmpDir("bloom-versions")
    val root = new java.io.File(s"$path/data")
    def entries = root.list().filterNot(_.startsWith(".")).toSet // not the .crc sidecars
    val dim = Seq(("r", "c")).toDF("repo", "commit")
    val keys = Seq("repo", "commit")
    // each build publishes a version whose sizing names it; v-10 must
    // beat v-9: the order is numeric, not lexical
    (1 to 10).foreach { i =>
      IndexStore.buildBloom(dim, keys, path, expectedItems = 100L + i)
      assert(IndexStore.loadBloom(spark, path)._2.expectedItems === 100L + i)
    }
    IndexStore.appendBloom(Seq(("r2", "c")).toDF("repo", "commit"), path)
    val (merged, meta) = IndexStore.loadBloom(spark, path)
    assert(meta.expectedItems === 110L)
    assert(entries === Set("v-10", "v-11")) // the predecessor stays, older ones go
    // a temp stranded by a dead writer never shadows the latest version
    // and is cleared by the next publish
    java.nio.file.Files.writeString(new java.io.File(root, "_tmp-dead").toPath, "garbage")
    assert(IndexStore.loadBloom(spark, path)._1.toSeq === merged.toSeq)
    IndexStore.buildBloom(dim, keys, path, expectedItems = 200L)
    assert(IndexStore.loadBloom(spark, path)._2.expectedItems === 200L)
    assert(entries === Set("v-11", "v-12"))
  }

  test("a file at an artifact path fails loudly; an empty dir reads as never written") {
    val bloom = s"${tmpDir("unversioned")}/bloom"
    IndexStore.buildBloom(Seq(("r", "c")).toDF("repo", "commit"), Seq("repo", "commit"),
      bloom, expectedItems = 10L)
    org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(s"$bloom/data"))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$bloom/data"), "")
    val e = intercept[IllegalArgumentException](IndexStore.loadBloom(spark, bloom))
    assert(e.getMessage.contains(s"$bloom/data"))

    java.nio.file.Files.delete(java.nio.file.Paths.get(s"$bloom/data"))
    java.nio.file.Files.createDirectory(java.nio.file.Paths.get(s"$bloom/data"))
    val e2 = intercept[IllegalArgumentException](IndexStore.loadBloom(spark, bloom))
    assert(e2.getMessage.contains("has no filter"))
  }
}
