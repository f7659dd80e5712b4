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

  test("saveText/loadText: numerically latest version wins; a stranded temp is cleared") {
    val p = s"${tmpDir("text")}/artifact.json"
    val root = new java.io.File(p)
    def entries = root.list().filterNot(_.startsWith(".")).toSet // not the .crc sidecars
    assert(IndexStore.loadText(spark, p) === None)
    // v-10 must beat v-9: the order is numeric, not lexical
    (1 to 11).foreach { i =>
      IndexStore.saveText(spark, p, s"text $i")
      assert(IndexStore.loadText(spark, p) === Some(s"text $i"))
    }
    assert(entries === Set("v-10", "v-11")) // the predecessor stays, older ones go
    // a temp stranded by a dead writer never shadows the latest version
    // and is cleared by the next save
    java.nio.file.Files.writeString(new java.io.File(root, "_tmp-dead").toPath, "garbage")
    assert(IndexStore.loadText(spark, p) === Some("text 11"))
    IndexStore.saveText(spark, p, "text 12")
    assert(IndexStore.loadText(spark, p) === Some("text 12"))
    assert(entries === Set("v-11", "v-12"))
  }

  test("a file at an artifact path fails loudly; an empty dir reads as never written") {
    val dir = tmpDir("unversioned")
    val text = s"$dir/artifact.json"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(text), "{}")
    val e = intercept[IllegalArgumentException](IndexStore.loadText(spark, text))
    assert(e.getMessage.contains(text))

    val bloom = s"$dir/bloom"
    IndexStore.buildBloom(Seq(("r", "c")).toDF("repo", "commit"), Seq("repo", "commit"),
      bloom, expectedItems = 10L)
    org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(s"$bloom/data"))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$bloom/data"), "")
    val e2 = intercept[IllegalArgumentException](IndexStore.loadBloom(spark, bloom))
    assert(e2.getMessage.contains(s"$bloom/data"))

    java.nio.file.Files.createDirectory(java.nio.file.Paths.get(s"$dir/empty"))
    assert(IndexStore.loadText(spark, s"$dir/empty") === None)
  }
}
