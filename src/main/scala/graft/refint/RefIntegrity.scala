package graft.refint

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Referential-integrity checks: fact keys must exist in a dimension
  * table (north rule: repo/commit vs a dimension table via broadcast or
  * sort-merge join).
  *
  * Semantics grounding: the reference's keyed point lookup (map probe at
  * app/.../HomeViewModel.kt:108) generalizes to a build-side hash table
  * probed per fact row = broadcast hash join; unmatched rows are the
  * violations (`left_anti`), matched rows the validated subset
  * (`left_semi`).
  *
  * Scale notes:
  *   - `broadcastDim = true` (default) hints the dim side — at 10^12
  *     fact rows the dim (distinct repo/commit pairs) is many orders of
  *     magnitude smaller and must never shuffle the fact table.
  *   - For a genuinely large dim, pass `broadcastDim = false` and let
  *     Catalyst pick sort-merge (AQE converts back to broadcast at
  *     runtime if the dim turns out small).
  *   - SQL-standard RI semantics: a fact row with a NULL key is NOT an
  *     orphan (null never matches nor violates — that's the `required`
  *     rule's job). left_anti treats null keys as unmatched, so we
  *     filter them out explicitly.
  */
object RefIntegrity {

  /** Fact rows whose (non-null) key tuple has no match in `dim`. */
  def orphans(
      fact: DataFrame,
      dim: DataFrame,
      keys: Seq[String],
      broadcastDim: Boolean = true
  ): DataFrame = {
    val d = if (broadcastDim) broadcast(dim) else dim
    val nonNullKeys = keys.map(col(_).isNotNull).reduce(_ && _)
    // a using-columns join moves the keys to the front — restore the
    // fact's own column order (stable output contract)
    fact.where(nonNullKeys).join(d, keys, "left_anti")
      .select(fact.columns.map(col).toIndexedSeq: _*)
  }

  /** Fact rows that pass the RI check (left_semi — no dim columns). */
  def matched(
      fact: DataFrame,
      dim: DataFrame,
      keys: Seq[String],
      broadcastDim: Boolean = true
  ): DataFrame = {
    val d = if (broadcastDim) broadcast(dim) else dim
    fact.join(d, keys, "left_semi")
      .select(fact.columns.map(col).toIndexedSeq: _*)
  }

  // ---- Bloom-accelerated RI (dim too big to broadcast) ---------------
  //
  // A sort-merge anti-join shuffles the WHOLE fact table on the key. A
  // Bloom filter over the dim keys is MB-sized where the dim is TB-sized,
  // ships to every task as one plan reference, and classifies rows with
  // zero shuffle: probe-NO rows are definite orphans (no false "present"
  // direction for them to hide in); only probe-YES rows — the matched
  // majority plus an fpp-fraction of orphans — ever reach the join. For
  // the exact variant this cuts the anti-join's shuffled volume to the
  // probe-YES subset; the approximate variant skips the join entirely
  // (misses ~fpp of orphans, finds zero false orphans).

  /** Canonical 64-bit key hash — same column order on both sides. */
  def keyHash(keys: Seq[String]): Column = xxhash64(keys.map(col): _*)

  /** Build a serialized Bloom filter over the dim's (non-null) key
    * hashes. One pass over dim; the result is `O(expectedItems)` BITS
    * regardless of dim row width, so one build serves every fact scan
    * that probes it.
    */
  def buildKeyBloom(
      dim: DataFrame,
      keys: Seq[String],
      expectedItems: Long,
      fpp: Double = 0.01
  ): Array[Byte] = {
    val nonNullKeys = keys.map(col(_).isNotNull).reduce(_ && _)
    val bf = dim.where(nonNullKeys)
      .select(keyHash(keys).as("__kh"))
      .stat.bloomFilter("__kh", expectedItems, fpp)
    graft.functions.BloomExprs.serialize(bf)
  }

  /** Approximate orphans: fact rows whose key hash FAILS the Bloom
    * probe. Guarantees: every returned row is a true orphan (a probe
    * miss is definitive); an orphan is missed with probability ~`fpp`
    * (it collides into "maybe present"). Pure codegen'd scan — ZERO
    * shuffle, no dim access at probe time.
    */
  def orphansApprox(
      fact: DataFrame,
      keys: Seq[String],
      bloomBytes: Array[Byte]
  ): DataFrame = {
    val nonNullKeys = keys.map(col(_).isNotNull).reduce(_ && _)
    fact.where(nonNullKeys)
      .where(!graft.functions.BloomExprs.mightContainLong(keyHash(keys), bloomBytes))
  }

  /** EXACT orphans, bloom-accelerated: probe-miss rows are orphans
    * outright; only probe-hit rows go through the real anti-join to
    * weed out false positives. Result is row-identical to [[orphans]]
    * (pinned by RefIntegritySpec); the shuffle carries only the
    * probe-hit subset.
    */
  def orphansWithBloom(
      fact: DataFrame,
      dim: DataFrame,
      keys: Seq[String],
      bloomBytes: Array[Byte],
      broadcastDim: Boolean = false
  ): DataFrame = {
    val nonNullKeys = keys.map(col(_).isNotNull).reduce(_ && _)
    val probe = graft.functions.BloomExprs.mightContainLong(keyHash(keys), bloomBytes)
    val definite = fact.where(nonNullKeys).where(!probe)
    val candidates = fact.where(nonNullKeys).where(probe)
    val d = if (broadcastDim) broadcast(dim) else dim
    // unionByName: a using-columns join moves the key columns to the
    // front, so a positional union would silently mis-align payloads
    definite.unionByName(candidates.join(d, keys, "left_anti"))
      .select(fact.columns.map(col).toIndexedSeq: _*)
  }

  /** One-row summary `(n_rows, n_null_keys, n_orphans)` via the exact
    * bloom-accelerated path — same answer as [[summary]].
    */
  def summaryWithBloom(
      fact: DataFrame,
      dim: DataFrame,
      keys: Seq[String],
      bloomBytes: Array[Byte],
      broadcastDim: Boolean = false
  ): DataFrame = {
    val nonNullKeys = keys.map(col(_).isNotNull).reduce(_ && _)
    val totals = fact.agg(
      count(lit(1)).as("n_rows"),
      sum(when(!nonNullKeys, 1L).otherwise(0L)).as("n_null_keys"))
    val orphanCount = orphansWithBloom(fact, dim, keys, bloomBytes, broadcastDim)
      .agg(count(lit(1)).as("n_orphans"))
    totals.crossJoin(orphanCount)
  }

  /** One-row summary `(n_rows, n_null_keys, n_orphans)`. */
  def summary(
      fact: DataFrame,
      dim: DataFrame,
      keys: Seq[String],
      broadcastDim: Boolean = true
  ): DataFrame = {
    val nonNullKeys = keys.map(col(_).isNotNull).reduce(_ && _)
    val totals = fact.agg(
      count(lit(1)).as("n_rows"),
      sum(when(!nonNullKeys, 1L).otherwise(0L)).as("n_null_keys"))
    val orphanCount = orphans(fact, dim, keys, broadcastDim)
      .agg(count(lit(1)).as("n_orphans"))
    totals.crossJoin(orphanCount)
  }
}
