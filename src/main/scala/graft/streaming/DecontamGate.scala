package graft.streaming

import graft.functions.{Fns, VectorExprs}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.BloomFilter

/** Streaming decontamination gate — the intake twin of batch
  * `s19_bloom_decontaminate` (the d17 ↔ [[IngestDedup]] symmetry, on
  * the train/eval axis): documents arrive continuously and anything
  * overlapping the benchmark suite should be flagged BEFORE it lands
  * in the corpus, with zero per-stream state.
  *
  * The split of labor mirrors production: the benchmark side is fixed
  * and bounded, so its Bloom filter is built ONCE in batch
  * ([[buildFilter]] — the same builder batch s19 uses, one definition)
  * and broadcast; the screen itself ([[screen]]) is a stateless
  * per-row probe — no watermark, no state store, no shuffle — so it
  * composes with any streaming plan and with batch replays unchanged
  * (the parity spec asserts stream-over-microbatches ≡ the same call
  * on the batch union, bit for bit).
  *
  * Grain note: the gate probes ALL of a document's distinct gram
  * hashes, where batch s19 probes the df-CAPPED relation — the cap is
  * an inverted-index join guard (hub-gram skew) and the gate has no
  * join to guard. Since the gate's gram set per doc is a superset of
  * s19's and the filter is one-sided, every doc batch s19 flags is
  * flagged here too (asserted in the spec) — the stream can only be
  * MORE conservative, never miss.
  */
object DecontamGate {

  /** The corpus-level screen threshold (≥ MinShared sketched gram
    * hits flags a document) — ONE definition shared by batch s19 and
    * [[screen]]'s default, so the batch audit and the intake gate
    * can never flag at different thresholds. */
  val MinShared = 3

  /** Benchmark-side filter build (batch, bounded by the benchmark
    * suite's size): distinct gram hashes → a correctly-sized Bloom.
    * Shared by batch s19 — the sketch the gate probes can never
    * drift from the one the batch audit was run with. Owns the
    * dedup (callers pass the raw gram column); requires exactly one
    * `gid` column so a mis-projected frame fails loudly instead of
    * silently building the filter over the wrong column (which
    * would turn the no-false-negative screen into an
    * everything-passes screen). An empty benchmark side yields an
    * explicit all-zero filter (stat.bloomFilter NPEs on empty
    * input). */
  /** The sketch probe as Spark's OWN codegen'd native (VERDICT r8 ask
    * #8): `BloomFilterMightContain` over the serialized filter as a
    * binary literal — the expression Spark's runtime row-group
    * filtering uses, with a direct `mightContainLong` call generated
    * into whole-stage codegen. Replaces the interpreted ScalaUDF hop
    * on s19's corpus-grain scan. The literal rides the task binary
    * instead of a broadcast — sound here because the benchmark-side
    * sketch is KB–MB at any corpus size by construction (see the
    * class doc); a corpus-sized sketch would want the broadcast
    * back. */
  def mightContain(bloom: BloomFilter, gid: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column = {
    val bos = new java.io.ByteArrayOutputStream()
    bloom.writeTo(bos)
    org.apache.spark.sql.GraftColumnBridge.column(
      org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
        org.apache.spark.sql.catalyst.expressions.Literal(
          bos.toByteArray,
          org.apache.spark.sql.types.BinaryType),
        org.apache.spark.sql.GraftColumnBridge.expression(gid)))
  }

  /** Bloom filter over the one-column `gid` relation `gids`, sized by
    * its distinct count at false-positive rate `fpp`.
    *
    * `expectDistinct`: a caller that already holds (and typically
    * pins) the deduplicated relation skips the internal distinct —
    * cache substitution happens AFTER the optimizer's redundant-
    * aggregate elimination, so a distinct-over-cached-distinct would
    * otherwise plan a second full aggregation per build (batch s19
    * pays it twice: sizing count + sketch build). Nothing checks the
    * expectation: duplicates under `expectDistinct` inflate the
    * sizing count n, so the filter is OVERSIZED — still sound (Bloom
    * inserts are idempotent, and a larger filter only lowers the
    * false-positive rate), but it costs memory and a larger sketch
    * literal in every probing task, and n no longer measures the
    * distinct gram count. */
  def buildFilter(gids: DataFrame, fpp: Double = 0.01,
      expectDistinct: Boolean = false): BloomFilter = {
    require(gids.columns.sameElements(Array("gid")),
      s"buildFilter expects exactly one column named 'gid', got " +
        s"[${gids.columns.mkString(", ")}] — project the gram-hash " +
        "column explicitly")
    val g = if (expectDistinct) gids else gids.distinct()
    val n = g.count()
    if (n == 0) BloomFilter.create(1L, fpp)
    else g.stat.bloomFilter("gid", n, fpp)
  }

  /** Screen documents against a pre-built benchmark filter: adds
    * `n_grams`, `bloom_hits`, `flagged` (≥ `minShared` sketched
    * hits — s19's corpus-level screen threshold). Works identically
    * on streaming and batch frames: the probe is one narrow pass
    * (native shingle hash → [[mightContain]] inside a higher-order
    * `filter` — no ScalaUDF hop, the same native expression batch
    * s19 scans with), stateless by construction. */
  def screen(docs: DataFrame, bloom: BloomFilter,
      minShared: Int = MinShared): DataFrame =
    docs
      .withColumn("_gids", coalesce(
        VectorExprs.shingleHash60(Fns.tokens(col("text")),
          distinct = true),
        array().cast("array<long>")))
      .withColumn("n_grams", size(col("_gids")).cast("long"))
      .withColumn("bloom_hits",
        size(filter(col("_gids"), g => mightContain(bloom, g)))
          .cast("long"))
      .withColumn("flagged", col("bloom_hits") >= minShared)
      .drop("_gids")
}
