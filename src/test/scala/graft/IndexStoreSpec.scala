package graft

import graft.index.IndexStore
import org.apache.spark.sql.functions._

/** The persisted drift baseline: a stored sketch reproduces the
  * direct-compute scores exactly, and a query against it reads the
  * sketch instead of rescanning the baseline.
  */
class IndexStoreSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = spark.read.parquet(sf("sf0.001") + "/documents.parquet")

  private def tmpDir(name: String): String = {
    val d = java.nio.file.Files.createTempDirectory(s"graft-idx-$name")
    d.toFile.deleteOnExit()
    d.toString
  }

  test("kind mismatch fails loudly at load") {
    val path = tmpDir("kind")
    // the sidecar a Bloom index left: its kind, nothing else
    Seq("bloom").toDF("kind").coalesce(1).write.json(s"$path/meta")
    val load = intercept[IllegalArgumentException](IndexStore.loadDriftBaseline(spark, path))
    assert(load.getMessage.contains("'bloom'"))
    val build = intercept[IllegalArgumentException] {
      IndexStore.buildDriftBaseline(docs, "n_chars", Seq("lang"), path, nBins = 4, exact = true)
    }
    assert(build.getMessage.contains("'bloom'"))
  }

  test("an unreadable kind sidecar fails the build loudly and is left as it was") {
    val path = tmpDir("garbage")
    val garbage = java.nio.file.Paths.get(s"$path/meta/part-00000.json")
    java.nio.file.Files.createDirectories(garbage.getParent)
    java.nio.file.Files.writeString(garbage, "not a sidecar {")
    val e = intercept[IllegalArgumentException] {
      IndexStore.buildDriftBaseline(docs, "n_chars", Seq("lang"), path, nBins = 4, exact = true)
    }
    assert(e.getMessage.contains(path))
    assert(java.nio.file.Files.readString(garbage) === "not a sidecar {")
    assert(!new java.io.File(s"$path/data").exists())
  }

  test("a baseline with no non-null value is refused before its path is claimed") {
    val path = tmpDir("empty")
    val e = intercept[IllegalArgumentException] {
      IndexStore.buildDriftBaseline(docs.limit(0), "n_chars", Seq("lang"), path, nBins = 4, exact = true)
    }
    assert(e.getMessage.contains("no non-null 'n_chars' value"))
    assert(!new java.io.File(s"$path/meta").exists())
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
    // a slice id names a partition directory: an unsafe one is refused
    intercept[IllegalArgumentException](IndexStore.appendDriftBaseline(odd, path, "bad/id"))
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
    // a rebuild over it is readable, and clears the old bins from data/
    IndexStore.buildDriftBaseline(base, "n_chars", Seq("lang"), path, nBins = 8, exact = true)
    val (bins, meta) = IndexStore.loadDriftBaseline(spark, path)
    assert(meta.edges.length === 7 && bins.agg(sum(col("n"))).head().getLong(0) === 250L)
    assert(new java.io.File(s"$path/data").list().filterNot(_.startsWith(".")).toSet === Set("v-1"))
  }

  test("bloom publish: numerically latest version wins; a stranded temp is cleared") {
    val path = tmpDir("drift-versions")
    val root = new java.io.File(s"$path/data")
    def entries = root.list().filterNot(_.startsWith(".")).toSet // not the .crc sidecars
    val base = docs.where(col("doc_id") % 2 === 0)
    def build(nBins: Int): Unit =
      IndexStore.buildDriftBaseline(base, "n_chars", Seq("lang"), path, nBins = nBins, exact = true)
    def edges = IndexStore.loadDriftBaseline(spark, path)._2.edges.length
    // each build publishes a version whose edge count names it; v-10 must
    // beat v-9: the order is numeric, not lexical
    (1 to 10).foreach { i =>
      build(nBins = i + 1)
      assert(edges === i)
    }
    assert(entries === Set("v-9", "v-10")) // the predecessor stays, older ones go
    // a temp stranded by a dead writer never shadows the latest version
    // and is cleared by the next publish
    java.nio.file.Files.writeString(new java.io.File(root, "_tmp-dead").toPath, "garbage")
    assert(edges === 10)
    build(nBins = 3)
    assert(edges === 2)
    assert(entries === Set("v-10", "v-11"))
  }

  test("a file at an artifact path fails loudly; an empty dir reads as never written") {
    val drift = s"${tmpDir("unversioned")}/drift"
    IndexStore.buildDriftBaseline(docs, "n_chars", Seq("lang"), drift, nBins = 4, exact = true)
    org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(s"$drift/data"))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$drift/data"), "")
    val e = intercept[IllegalArgumentException](IndexStore.loadDriftBaseline(spark, drift))
    assert(e.getMessage.contains(s"$drift/data"))

    java.nio.file.Files.delete(java.nio.file.Paths.get(s"$drift/data"))
    java.nio.file.Files.createDirectory(java.nio.file.Paths.get(s"$drift/data"))
    val e2 = intercept[IllegalArgumentException](IndexStore.loadDriftBaseline(spark, drift))
    assert(e2.getMessage.contains("has no committed version"))
  }
}
