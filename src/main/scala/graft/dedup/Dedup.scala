package graft.dedup

import graft.text.TextAnalysis
import graft.util.CacheScope
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Document deduplication for training-data pipelines, four tiers:
  *
  *   1. [[exactSummary]] / [[exactDuplicates]] — exact dedup summary by
  *      content hash (single hash-aggregate; map-side partial combine,
  *      no window); [[exactDedup]] additionally picks a deterministic
  *      min-id survivor row via a window over the hash.
  *   2. [[jaccardPairs]] — exact n-gram Jaccard on candidate pairs found
  *      via an inverted shingle index (explode → self-join on shingle).
  *   3. [[minHashSignatures]] / [[minHashNearDuplicates]] — MinHash +
  *      banded LSH: shingle → k min-hashes → b bands → bucket join.
  *   4. [[simHash]] / [[simHashNearDuplicates]] — 64-bit SimHash with
  *      pigeonhole chunk-join candidate generation (maxHamming+1
  *      chunks) + Hamming filter.
  *
  * Scale design (100 TB):
  *   - Exact dedup is one shuffle on a 32-byte hash — the optimizer's
  *     partial aggregation bounds reducer input by distinct-count.
  *   - The shingle inverted index drops "stop shingles" whose document
  *     frequency exceeds `maxDf` BEFORE the self-join: the join cost is
  *     Σ df² per shingle, so unbounded-df shingles are the only way the
  *     plan can blow up. Same trick caps LSH bucket sizes (`maxBucket`).
  *   - MinHash k signatures are computed as k independent min-aggregates
  *     over one exploded shingle stream — one shuffle keyed by doc id,
  *     constant-size state per key (k longs), no driver involvement.
  *   - SimHash needs no pairwise work to build: 64 conditional sums in a
  *     single aggregate; candidate pairs come from equality joins on
  *     disjoint bit chunks (pigeonhole: Hamming ≤ h ⇒ ≥ 1 of h+1 chunks
  *     equal, so the chunk count is derived from the radius).
  *
  * Semantics grounding: hash-then-compare equality at reference
  * rust/src/lib.rs:161-172; report-every-duplicate (not first-found)
  * mirrors the all-errors accumulation at app/.../HomeScreen.kt:785-789.
  *
  * Cache lifetime: the pairwise-mining functions persist their exploded
  * index/signature frames (each is consumed by a hot-key aggregate AND
  * the join sides). The returned frames stay lazy, so the caches cannot
  * be unpersisted here — every miner therefore registers its persists in
  * a caller-owned [[graft.util.CacheScope]]; call `scope.release()` once
  * the result is consumed (at real scale: write the index/signature
  * tables out once instead).
  */
object Dedup {

  // -------------------------------------------------------------------
  // 1. Exact dedup (hash groupBy)
  // -------------------------------------------------------------------

  /** The exact-dedup grouping key: sha256 of the normalized content —
    * public so compositions (e.g. the one-pass pipeline funnel) can
    * window over the SAME key the dedup operators use.
    */
  def contentHash(textCol: String): Column =
    sha2(TextAnalysis.normalizeText(col(textCol)), 256)

  /** One row per duplicated content hash: (content_sha, n_rows, keep_id). */
  def exactDuplicates(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.where(col(textCol).isNotNull)
      .groupBy(contentHash(textCol).as("content_sha"))
      .agg(count(lit(1)).as("n_rows"), min(col(idCol)).as("keep_id"))
      .where(col("n_rows") > 1)

  /** One-row dataset summary: (n_rows, n_distinct, n_dup_rows). */
  def exactSummary(df: DataFrame, textCol: String): DataFrame =
    df.where(col(textCol).isNotNull)
      .groupBy(contentHash(textCol).as("content_sha"))
      .agg(count(lit(1)).as("__n"))
      .agg(
        sum(col("__n")).as("n_rows"),
        count(lit(1)).as("n_distinct"),
        sum(when(col("__n") > 1, col("__n") - 1).otherwise(0L)).as("n_dup_rows"))

  /** Keep the min-id row per distinct content (deterministic survivor).
    * `scopeCols` prefix the dedup key: survivors are then per (scope,
    * content) — the partition-local semantics a per-partition resumable
    * pipeline needs (processing any subset of scopes yields identical
    * per-scope results regardless of batching).
    */
  def exactDedup(
      df: DataFrame,
      idCol: String,
      textCol: String,
      scopeCols: Seq[String] = Nil): DataFrame = {
    val w = Window
      .partitionBy(scopeCols.map(col) :+ contentHash(textCol): _*)
      .orderBy(col(idCol))
    df.where(col(textCol).isNotNull)
      .withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1)
      .drop("__rn")
  }

  // -------------------------------------------------------------------
  // Shingling
  // -------------------------------------------------------------------

  /** Distinct word n-grams of the normalized text, as array<string>.
    *
    * PERFORMANCE: `c` is captured inside the transform lambda — an
    * expression argument re-evaluates per n-gram. Pre-project the word
    * array and use [[wordShinglesFromWords]] on hot paths (as
    * [[jaccardPairs]] does); this wrapper is for small/one-off use.
    */
  def wordShingles(c: Column, n: Int): Column =
    wordShinglesFromWords(split(TextAnalysis.normalizeText(c), " "), n)

  /** [[wordShingles]] over a pre-split word array column. */
  def wordShinglesFromWords(words: Column, n: Int): Column = {
    val count = size(words) - (n - 1)
    when(count >= 1,
      array_distinct(
        transform(sequence(lit(0), count - 1), i =>
          concat_ws(" ", slice(words, i + 1, lit(n))))))
      .otherwise(array().cast("array<string>"))
  }

  /** Inverted index (id, shingle) with stop-shingles (df > maxDf)
    * removed — the scan-cost cap for every pairwise candidate join.
    */
  /** Exploded (id, shingle) rows — one per DISTINCT word n-gram per
    * doc, no df filtering. Shared by [[shingleIndex]] and the
    * cross-corpus [[contaminationPairs]].
    */
  private def rawShingleIndex(
      df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    df.where(col(textCol).isNotNull)
      .select(col(idCol).as("id"),
        split(TextAnalysis.normalizeText(col(textCol)), " ").as("__words"))
      .select(col("id"), explode(wordShinglesFromWords(col("__words"), n)).as("shingle"))

  private def shingleIndex(
      df: DataFrame, idCol: String, textCol: String, n: Int, maxDf: Int,
      scope: CacheScope): DataFrame = {
    val idx = rawShingleIndex(df, idCol, textCol, n)
    // Stop-shingle removal via aggregate + broadcast ANTI-join against
    // the hot list: the hot list is tiny by construction (shingles with
    // df > maxDf), while a window-count formulation would sort the whole
    // exploded index. Map-side partial aggregation bounds the count
    // shuffle by distinct-shingle cardinality.
    // The index feeds the hot-list aggregate, both pair-join sides, and
    // the size aggregate — persist so the explode runs once (at real
    // scale: write the inverted index out once instead).
    val cached = scope.cache(idx)
    val hot = cached.groupBy(col("shingle"))
      .agg(count(lit(1)).as("__df"))
      .where(col("__df") > maxDf)
      .select(col("shingle"))
    cached.join(broadcast(hot), Seq("shingle"), "left_anti")
  }

  // -------------------------------------------------------------------
  // 2. Exact n-gram Jaccard
  // -------------------------------------------------------------------

  /** Pairs (id_a < id_b) with Jaccard similarity of their (df-filtered)
    * word-n-gram sets ≥ `minJaccard`. Output: (id_a, id_b, n_common,
    * size_a, size_b, jaccard).
    *
    * The Jaccard is computed over the SAME df-filtered shingle sets used
    * for candidate generation, so the result is exactly reproducible by
    * the SQL oracle (no hidden sampling).
    */
  def jaccardPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      maxDf: Int = 100,
      minJaccard: Double = 0.5,
      scope: CacheScope = CacheScope.shared): DataFrame = {
    val idx = shingleIndex(df, idCol, textCol, n, maxDf, scope)
    val sizes = idx.groupBy(col("id")).agg(count(lit(1)).as("sz"))
    val a = idx.select(col("id").as("id_a"), col("shingle"))
    val b = idx.select(col("id").as("id_b"), col("shingle"))
    val common = a.join(b, Seq("shingle"))
      .where(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("n_common"))
    common
      .join(sizes.withColumnRenamed("id", "id_a").withColumnRenamed("sz", "size_a"), Seq("id_a"))
      .join(sizes.withColumnRenamed("id", "id_b").withColumnRenamed("sz", "size_b"), Seq("id_b"))
      .withColumn("jaccard",
        col("n_common").cast("double") /
          (col("size_a") + col("size_b") - col("n_common")))
      .where(col("jaccard") >= minJaccard)
      .select("id_a", "id_b", "n_common", "size_a", "size_b", "jaccard")
  }

  // -------------------------------------------------------------------
  // 2b. Cross-corpus contamination (train/test n-gram containment)
  // -------------------------------------------------------------------

  /** Probe documents whose word-n-gram sets are substantially CONTAINED
    * in some corpus document — the train/test-leakage check an LLM data
    * pipeline runs before every eval (the published recipe is n-gram
    * overlap between training corpus and benchmark sets; containment
    * |probe ∩ corpus| / |probe| rather than Jaccard, because a short
    * eval item buried in a long training doc should still score 1.0).
    *
    * Both sides drop the CORPUS's hot shingles (corpus df > `maxDf`) —
    * the same fan-out cap as [[jaccardPairs]], applied symmetrically so
    * the denominator counts only shingles that COULD have matched.
    * Output: (probe_id, corpus_id, n_common, probe_size, containment)
    * with containment ≥ `minContainment`; probe docs with zero
    * post-filter shingles produce no rows.
    *
    * Scale: the probe side (an eval suite) is normally orders of
    * magnitude smaller than the corpus — pass `broadcastProbe = true`
    * and the corpus-side index never shuffles at all; otherwise the
    * join is shingle-equality with fan-out bounded by maxDf × probe-df.
    */
  def contaminationPairs(
      corpus: DataFrame,
      corpusIdCol: String,
      probe: DataFrame,
      probeIdCol: String,
      textCol: String,
      n: Int = 5,
      maxDf: Int = 100,
      minContainment: Double = 0.5,
      broadcastProbe: Boolean = false,
      scope: CacheScope = CacheScope.shared): DataFrame = {
    val corpusIdx = scope.cache(rawShingleIndex(corpus, corpusIdCol, textCol, n))
    val hot = corpusIdx.groupBy(col("shingle"))
      .agg(count(lit(1)).as("__df"))
      .where(col("__df") > maxDf)
      .select(col("shingle"))
    val cIdx = corpusIdx.join(broadcast(hot), Seq("shingle"), "left_anti")
      .select(col("id").as("corpus_id"), col("shingle"))
    val pIdx = scope.cache(
      rawShingleIndex(probe, probeIdCol, textCol, n)
        .join(broadcast(hot), Seq("shingle"), "left_anti")
        .select(col("id").as("probe_id"), col("shingle")))
    val sizes = pIdx.groupBy(col("probe_id"))
      .agg(count(lit(1)).as("probe_size"))
    val joinSide = if (broadcastProbe) broadcast(pIdx) else pIdx
    cIdx.join(joinSide, Seq("shingle"))
      .groupBy(col("probe_id"), col("corpus_id"))
      .agg(count(lit(1)).as("n_common"))
      .join(if (broadcastProbe) broadcast(sizes) else sizes, Seq("probe_id"))
      .withColumn("containment",
        col("n_common").cast("double") / col("probe_size"))
      .where(col("containment") >= minContainment)
      .select("probe_id", "corpus_id", "n_common", "probe_size", "containment")
  }

  /** Per-probe contamination rollup over [[contaminationPairs]] output:
    * (probe_id, n_matches, max_containment, best_corpus_id). Ties on
    * containment resolve to the larger (n_common, corpus_id) — a total,
    * reproducible order (struct max), never "first seen".
    */
  def contaminatedProbes(pairs: DataFrame): DataFrame =
    pairs.groupBy(col("probe_id"))
      .agg(
        count(lit(1)).as("n_matches"),
        max(struct(col("containment"), col("n_common"), col("corpus_id")))
          .as("__best"))
      .select(col("probe_id"), col("n_matches"),
        col("__best.containment").as("max_containment"),
        col("__best.corpus_id").as("best_corpus_id"))

  // -------------------------------------------------------------------
  // 3. MinHash + banded LSH
  // -------------------------------------------------------------------

  /** MinHash signatures: (id, sig array<bigint> of length k) from
    * character-`shingleN`-gram rolling hashes — computed by the native
    * [[graft.functions.MinHashSig]] Catalyst expression: the whole
    * signature is built inside ONE projection (zero shuffle, zero row
    * amplification; the composed alternative below explodes
    * |doc|·shingles rows through a k-min aggregate).
    */
  def minHashSignatures(
      df: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 64,
      shingleN: Int = 8): DataFrame =
    df.where(col(textCol).isNotNull)
      .select(col(idCol).as("id"),
        graft.functions.HashExprs
          .minhashSig(TextAnalysis.normalizeText(col(textCol)), shingleN, k)
          .as("sig"))
      .where(size(col("sig")) > 0) // docs shorter than one shingle

  /** Reference implementation of [[minHashSignatures]] composed from
    * built-ins (explode → k min-aggregates). Bit-identical output —
    * pinned by HashExprsSpec; kept as the cross-check oracle for the
    * native expression.
    */
  def minHashSignaturesAgg(
      df: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 64,
      shingleN: Int = 8): DataFrame = {
    val exploded = df
      .where(col(textCol).isNotNull)
      .select(col(idCol).as("id"),
        TextAnalysis.normalizeText(col(textCol)).as("__norm"))
      .select(col("id"),
        explode(TextAnalysis.shingleHashesNormalized(col("__norm"), shingleN)).as("h"))
    // k independent hash families: h_i = xxhash64(shingle_hash, i).
    val minCols = (0 until k).map(i => min(xxhash64(col("h"), lit(i))).as(s"m$i"))
    exploded
      .groupBy(col("id"))
      .agg(minCols.head, minCols.tail: _*)
      .select(col("id"), array((0 until k).map(i => col(s"m$i")): _*).as("sig"))
  }

  /** Candidate pairs from banded LSH over signatures: split the k-long
    * signature into `bands` bands, hash each band, join docs sharing any
    * (band, hash) bucket. Buckets larger than `maxBucket` are dropped
    * (they arise from degenerate content and would cost df² in the join;
    * the dropped mass is reported via the `lsh_bucket_overflow` counter
    * column of [[lshBucketStats]]).
    */
  def lshCandidates(signatures: DataFrame, bands: Int, maxBucket: Int = 1000,
      scope: CacheScope = CacheScope.shared): DataFrame = {
    val banded = scope.cache(bandedBuckets(signatures, bands))
    val capped = cappedByHotBuckets(banded, banded, maxBucket)
    val a = capped.select(col("band"), col("bucket"), col("id").as("id_a"))
    val b = capped.select(col("band"), col("bucket"), col("id").as("id_b"))
    a.join(b, Seq("band", "bucket"))
      .where(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .distinct()
  }

  /** The oversized-bucket cap, shared by [[lshCandidates]] and the
    * in-join-verifying miner so the predicate can never drift between
    * the two paths: hot buckets aggregated from `hotSource` (a slim
    * banded index — aggregate + broadcast anti-join, no window sort),
    * removed from `banded` (which may carry extra columns, e.g. the
    * signature for in-join verification).
    */
  private def cappedByHotBuckets(
      banded: DataFrame,
      hotSource: DataFrame,
      maxBucket: Int): DataFrame = {
    val hot = hotSource.groupBy(col("band"), col("bucket"))
      .agg(count(lit(1)).as("__bsz"))
      .where(col("__bsz") > maxBucket)
      .select(col("band"), col("bucket"))
    banded.join(broadcast(hot), Seq("band", "bucket"), "left_anti")
  }

  /** (id, band, bucket) — band hash = xxhash64 over the band's slice. */
  def bandedBuckets(signatures: DataFrame, bands: Int): DataFrame =
    signatures
      .select(col("id"), posexplode(bandSlices(col("sig"), bands)))
      .select(col("id"), col("pos").as("band"), xxhash64(col("col")).as("bucket"))

  /** Split an array into `bands` contiguous slices (array of arrays).
    * Integer floor division — `size/bands` as plain `/` is DOUBLE
    * division in Spark, and fractional starts silently truncate into
    * overlapping/skipped bands. Signatures whose length is not a
    * multiple of `bands` would drop the tail; [[minHashNearDuplicates]]
    * rejects that configuration up front.
    */
  private def bandSlices(sig: Column, bands: Int): Column = {
    val bandLen = floor(size(sig) / lit(bands.toDouble)).cast("int")
    transform(sequence(lit(0), lit(bands - 1)), b =>
      slice(sig, b * bandLen + 1, bandLen))
  }

  /** Bucket-size distribution for observability (overflow accounting). */
  def lshBucketStats(signatures: DataFrame, bands: Int, maxBucket: Int = 1000): DataFrame =
    bandedBuckets(signatures, bands)
      .groupBy(col("band"), col("bucket"))
      .agg(count(lit(1)).as("bucket_size"))
      .agg(
        count(lit(1)).as("n_buckets"),
        max(col("bucket_size")).as("max_bucket"),
        sum(when(col("bucket_size") > maxBucket, col("bucket_size")).otherwise(0L))
          .as("lsh_bucket_overflow"))

  /** Near-duplicate pairs: LSH candidates verified by the signature-
    * estimated Jaccard (fraction of equal minhash coordinates) ≥
    * `minEstJaccard`. Output: (id_a, id_b, est_jaccard).
    */
  def minHashNearDuplicates(
      df: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 64,
      bands: Int = 16,
      shingleN: Int = 8,
      minEstJaccard: Double = 0.7,
      maxBucket: Int = 1000,
      scope: CacheScope = CacheScope.shared): DataFrame =
    minHashNearDuplicatesFromSigs(
      minHashSignatures(df, idCol, textCol, k, shingleN),
      k, bands, minEstJaccard, maxBucket, scope)

  /** [[minHashNearDuplicates]] over a PREBUILT signature frame `(id,
    * sig)` — the build-once/query-many path: signatures computed once
    * (or loaded from a persisted index, [[graft.index.IndexStore]])
    * feed any number of mining runs without re-shingling the corpus.
    */
  def minHashNearDuplicatesFromSigs(
      signatures: DataFrame,
      k: Int,
      bands: Int,
      minEstJaccard: Double = 0.7,
      maxBucket: Int = 1000,
      scope: CacheScope = CacheScope.shared): DataFrame = {
    require(k % bands == 0 && bands <= k,
      s"signature length k=$k must be a positive multiple of bands=$bands " +
        "(banded LSH needs equal-size bands; a remainder would silently " +
        "drop signature tail elements)")
    // Verify INSIDE the bucket join: the banded index CARRIES the
    // signature, so a bucket collision verifies immediately — native
    // MatchCount, codegen'd, not the interpreted zip_with fold — and
    // the est-Jaccard filter prunes BEFORE the distinct. The previous
    // shape materialized every candidate pair (15M for 500k docs),
    // distinct-shuffled them, then re-joined the signature table twice
    // — two extra corpus-scale exchanges carrying 512-byte arrays, all
    // to verify pairs of which a few thousand survive.
    val sigs = scope.cache(signatures)
    // Three cheap re-explodes of the cached sigs beat persisting an
    // 8M-row × sig-array banded frame (the explode is a zero-shuffle
    // projection; the cache write would cost more than it saves).
    val bandedWithSig = sigs
      .select(col("id"), col("sig"), posexplode(bandSlices(col("sig"), bands)))
      .select(col("id"), col("sig"), col("pos").as("band"),
        xxhash64(col("col")).as("bucket"))
    val capped =
      cappedByHotBuckets(bandedWithSig, bandedBuckets(sigs, bands), maxBucket)
    val a = capped.select(col("band"), col("bucket"),
      col("id").as("id_a"), col("sig").as("sig_a"))
    val b = capped.select(col("band"), col("bucket"),
      col("id").as("id_b"), col("sig").as("sig_b"))
    a.join(b, Seq("band", "bucket"))
      .where(col("id_a") < col("id_b"))
      .withColumn("est_jaccard",
        graft.functions.HashExprs.matchCount(col("sig_a"), col("sig_b"))
          .cast("double") / k)
      .where(col("est_jaccard") >= minEstJaccard)
      .select("id_a", "id_b", "est_jaccard")
      .distinct()
  }

  // -------------------------------------------------------------------
  // 4. SimHash
  // -------------------------------------------------------------------

  /** 64-bit SimHash per document from whitespace tokens, weighted by
    * term frequency: bit j of the result is 1 iff Σ_tokens tf·(±1) > 0
    * where the sign is bit j of xxhash64(token) — computed by the
    * native [[graft.functions.SimHash64]] expression in one projection
    * (zero shuffle; the composed alternative below is two shuffles).
    */
  def simHash(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.where(col(textCol).isNotNull)
      .select(col(idCol).as("id"),
        graft.functions.HashExprs
          .simhash64(TextAnalysis.normalizeText(col(textCol)))
          .as("simhash"))

  /** Reference implementation of [[simHash]] composed from built-ins:
    * explode tokens → (id, token-hash, tf) aggregate → 64 conditional
    * sums → bit assembly. Bit-identical on docs with ≥1 token (pinned
    * by HashExprsSpec); kept as the cross-check oracle.
    */
  def simHashAgg(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tokens = df
      .where(col(textCol).isNotNull)
      .select(col(idCol).as("id"),
        explode(split(TextAnalysis.normalizeText(col(textCol)), " ")).as("tok"))
      .where(length(col("tok")) > 0)
      .groupBy(col("id"), xxhash64(col("tok")).as("h"))
      .agg(count(lit(1)).as("tf"))
    val bitSums = (0 until 64).map { j =>
      sum(when(shiftrightunsigned(col("h"), j).bitwiseAND(lit(1L)) === 1L, col("tf"))
        .otherwise(-col("tf"))).as(s"b$j")
    }
    val assembled = (0 until 64)
      .map { j =>
        // bit j contributes 2^j when its sum is positive; use the
        // signed-long bit directly (bit 63 → Long.MinValue).
        when(col(s"b$j") > 0, lit(1L << j)).otherwise(lit(0L))
      }
      .reduce[Column](_.bitwiseXOR(_))
    tokens
      .groupBy(col("id"))
      .agg(bitSums.head, bitSums.tail: _*)
      .select(col("id"), assembled.as("simhash"))
  }

  /** Hamming distance between two 64-bit hashes. */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  // -------------------------------------------------------------------
  // 5. Near-duplicate clustering (connected components over pairs)
  // -------------------------------------------------------------------

  /** Connected components over an undirected candidate-pair graph —
    * the output of ANY pairwise miner above ([[jaccardPairs]],
    * [[minHashNearDuplicates]], [[simHashNearDuplicates]]): every node
    * is assigned the MINIMUM id reachable from it. Output:
    * `(id, component)`, one row per node that appears in at least one
    * pair.
    *
    * Near-dup pairs alone under-deduplicate: A~B and B~C without A~C
    * means dropping one side of each pair can still keep two copies of
    * the same cluster. Transitive closure turns pairs into clusters so
    * exactly one survivor per cluster remains ([[dedupByClusters]]).
    *
    * Algorithm: iterative min-label propagation (the classic
    * Pregel/GraphX formulation) — each round every node takes the min
    * of its own label and its neighbours'; converges in O(graph
    * diameter) rounds. Near-dup graphs are unions of small dense
    * clusters, so the diameter — and hence the round count — is small
    * regardless of corpus size.
    *
    * Scale design (100 TB): each round is ONE shuffle (equi-join on
    * `src` + min-aggregate on `id`); `localCheckpoint` after every
    * round truncates lineage — the naive self-referencing plan embeds
    * the previous round TWICE (union + join), i.e. 2^rounds analysis
    * cost without truncation. The PREVIOUS round's checkpointed blocks
    * are unpersisted as soon as the next round materializes (executor
    * storage holds at most two rounds of labels, not one per round);
    * the final round's blocks are registered with `scope` and freed on
    * its release. Driver traffic is one emptiness check per round.
    * Throws after `maxIters` non-converged rounds rather than silently
    * returning a partial clustering.
    *
    * Caveat: `localCheckpoint` (unlike a reliable checkpoint) stores
    * the truncated lineage in EXECUTOR storage — losing an executor
    * mid-job loses blocks the truncated plan cannot recompute and fails
    * the job. That is the right trade for an iterative job this short
    * (rounds ≈ graph diameter); a run that must survive executor loss
    * should swap in `checkpoint()` against a reliable store.
    *
    * RETURN-VALUE CONTRACT: the returned frame (and every frame
    * derived from it — [[clusterAssignments]], [[dedupByClusters]])
    * reads the final round's checkpointed blocks, which are freed when
    * `scope` is released. Unlike scope-CACHED frames, which silently
    * recompute after release, a checkpointed frame's lineage is
    * truncated — consuming it after `scope.release()` fails hard
    * (checkpoint block not found). Fully materialize (write/collect/
    * count) before releasing the scope; never let the frame escape a
    * `CacheScope.withScope` block.
    */
  def connectedComponents(
      pairs: DataFrame,
      idACol: String = "id_a",
      idBCol: String = "id_b",
      maxIters: Int = 50,
      scope: CacheScope = CacheScope.shared): DataFrame = {
    val half = pairs.select(col(idACol).as("src"), col(idBCol).as("dst"))
    // Symmetric, deduplicated edge list — consumed once per round.
    val edges = scope.cache(
      half.union(half.select(col("dst").as("src"), col("src").as("dst")))
        .where(col("src").isNotNull && col("dst").isNotNull)
        .distinct())
    // Initial labels already fold in ONE propagation step — min over
    // self and direct neighbours is a plain aggregate on the symmetric
    // edge list (no join), so star-shaped clusters (the common near-dup
    // shape) converge after a single joined round.
    var labels = edges
      .groupBy(col("src").as("id"))
      .agg(min(least(col("src"), col("dst"))).as("component"))
      .localCheckpoint(true)
    var iter = 0
    var done = false
    while (!done) {
      val viaNeighbours = edges
        .join(labels.withColumnRenamed("id", "src"), "src")
        .select(col("dst").as("id"), col("component"), lit(false).as("__self"))
      // The previous label rides through the same aggregate (min over
      // the self-tagged branch), so convergence is a cheap scan of the
      // just-checkpointed frame instead of a join back against the old
      // labels — one shuffle per round total.
      val next = labels
        .select(col("id"), col("component"), lit(true).as("__self"))
        .union(viaNeighbours)
        .groupBy(col("id"))
        .agg(min(col("component")).as("component"),
          min(when(col("__self"), col("component"))).as("__prev"))
        .localCheckpoint(true)
      done = next.where(col("component") =!= col("__prev")).isEmpty
      // `next` is materialized (eager checkpoint + the emptiness scan),
      // so the previous round's blocks are dead — free them now instead
      // of letting executor storage grow by one label set per round.
      freeLocalCheckpoint(labels)
      labels = next.select(col("id"), col("component"))
      iter += 1
      if (!done && iter >= maxIters) {
        freeLocalCheckpoint(labels) // don't strand the last round's blocks
        throw new IllegalStateException(
          s"connectedComponents did not converge within maxIters=$maxIters " +
            "rounds — the pair graph has a path longer than maxIters " +
            "(degenerate chain-shaped input); raise maxIters explicitly")
      }
    }
    val result = labels
    scope.onRelease(_ => freeLocalCheckpoint(result))
    result
  }

  /** Unpersist the RDD blocks behind a `localCheckpoint`ed frame.
    * `Dataset.unpersist` cannot reach them — localCheckpoint persists
    * the physical RDD directly (as a `LogicalRDD` leaf), outside the
    * cache manager — so the iterative loop frees each superseded round
    * through the RDD handle. No-op on frames with no LogicalRDD leaf.
    */
  private def freeLocalCheckpoint(df: DataFrame): Unit =
    df.queryExecution.analyzed.collectFirst {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd
    }.foreach(_.unpersist(false))

  /** [[connectedComponents]] plus the cluster size: `(id, component,
    * n_members)` — one window over `component` (tiny frame: only nodes
    * that appear in pairs, not the corpus).
    */
  def clusterAssignments(
      pairs: DataFrame,
      idACol: String = "id_a",
      idBCol: String = "id_b",
      maxIters: Int = 50,
      scope: CacheScope = CacheScope.shared): DataFrame = {
    val cc = connectedComponents(pairs, idACol, idBCol, maxIters, scope)
    cc.withColumn("n_members",
      count(lit(1)).over(Window.partitionBy(col("component"))))
  }

  /** Keep exactly ONE survivor (the min-id member) per near-dup
    * cluster: drops every row whose id is a non-minimum member of a
    * connected component of `pairs`; rows in no pair pass through.
    * A broadcast anti-join when the clustered set is small relative to
    * the corpus (the common case — near-dups are the minority), a
    * shuffled anti-join otherwise; Catalyst/AQE picks by size.
    */
  def dedupByClusters(
      df: DataFrame,
      idCol: String,
      pairs: DataFrame,
      idACol: String = "id_a",
      idBCol: String = "id_b",
      maxIters: Int = 50,
      scope: CacheScope = CacheScope.shared): DataFrame = {
    val losers = connectedComponents(pairs, idACol, idBCol, maxIters, scope)
      .where(col("id") =!= col("component"))
      .select(col("id").as(idCol))
    df.join(losers, Seq(idCol), "left_anti")
  }

  /** Near-duplicate pairs with Hamming(simhash) ≤ maxHamming, candidates
    * via a pigeonhole chunk join: the 64 bits are split into
    * `maxHamming + 1` disjoint chunks, so every pair within the radius
    * shares at least one exact chunk — exact recall at ANY configured
    * radius (the chunk count is derived, never assumed).
    */
  def simHashNearDuplicates(
      df: DataFrame,
      idCol: String,
      textCol: String,
      maxHamming: Int = 3,
      maxBucket: Int = 10000,
      scope: CacheScope = CacheScope.shared): DataFrame = {
    // Pigeonhole: with the 64 bits split into `nChunks` disjoint chunks,
    // Hamming ≤ nChunks-1 guarantees at least one chunk is EQUAL — so
    // exact recall needs nChunks = maxHamming + 1 (advice r1: the old
    // fixed 4-chunk join silently lost recall for maxHamming > 3).
    require(maxHamming >= 0 && maxHamming <= 15,
      s"maxHamming=$maxHamming out of range 0..15 (chunks need >= 4 bits " +
        "each to keep candidate buckets selective)")
    val nChunks = maxHamming + 1
    // Chunk c covers bits [c*64/nChunks, (c+1)*64/nChunks) — near-equal
    // widths via integer boundary arithmetic.
    val bounds = (0 to nChunks).map(c => c * 64 / nChunks)
    val chunkExprs = (0 until nChunks).map { c =>
      val lo = bounds(c)
      val width = bounds(c + 1) - lo
      val mask = if (width == 64) -1L else (1L << width) - 1L
      shiftrightunsigned(col("simhash"), lo).bitwiseAND(lit(mask))
    }
    val hashes = simHash(df, idCol, textCol)
    val chunked = hashes.select(
      col("id"), col("simhash"),
      posexplode(array(chunkExprs: _*)))
      .select(col("id"), col("simhash"), col("pos").as("chunk"), col("col").as("cval"))
    val chunkedCached = scope.cache(chunked)
    val hot = chunkedCached.groupBy(col("chunk"), col("cval"))
      .agg(count(lit(1)).as("__bsz"))
      .where(col("__bsz") > maxBucket)
      .select(col("chunk"), col("cval"))
    val capped = chunkedCached.join(broadcast(hot), Seq("chunk", "cval"), "left_anti")
    val a = capped.select(col("chunk"), col("cval"), col("id").as("id_a"), col("simhash").as("sh_a"))
    val b = capped.select(col("chunk"), col("cval"), col("id").as("id_b"), col("simhash").as("sh_b"))
    a.join(b, Seq("chunk", "cval"))
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), hamming(col("sh_a"), col("sh_b")).as("hamming_dist"))
      // Hamming filter BEFORE the distinct — same result, but the
      // distinct's exchange carries only the surviving pairs instead of
      // every bucket collision (the same prune-then-distinct ordering
      // the MinHash miner uses for its est-Jaccard filter).
      .where(col("hamming_dist") <= maxHamming)
      .distinct()
  }
}
