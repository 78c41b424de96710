package graft.queries

import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** The distribution-derived df cap (VERDICT r5 ask #3): on a corpus
  * dense enough that hub grams would blow the candidate-pair budget,
  * [[TextDedup.autoDfCap]] shrinks below the fixed ceiling and the
  * inverted-index self-join stays linear; genuine low-df near-dup
  * pairs survive the cap. In package graft.queries to reach the
  * private[queries] internals under test. */
class TextDedupCapSpec extends SparkTestBase {
  import spark.implicits._

  /** 600 hub docs sharing one 10-word sentence (8 shingles, df=600
    * each: 600·599/2 ≈ 180k all-pairs if uncapped) + 10 engineered
    * near-dup pairs on disjoint 10-word vocabularies (df=2 grams). */
  private lazy val denseDir: String = {
    val dir = java.nio.file.Files
      .createTempDirectory("graft-dense").toString
    val hub = (0 until 600).map { i =>
      (i.toLong, (1 to 10).map(w => s"hub$w").mkString(" "))
    }
    val pairs = (0 until 20).map { i =>
      val sent = (1 to 10).map(w => s"p${i / 2}w$w").mkString(" ")
      ((1000 + i).toLong, sent)
    }
    (hub ++ pairs).toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("t"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("autoDfCap: budget binds on the dense corpus (cap collapses " +
      "to the floor), not on the ordinary corpus") {
    // dense: Σ df² = 8·600² + 80·2² ≈ 2.88M > 256·(8·600+80·2) ≈
    // 1.27M — the 600-df bucket busts the budget, rawcap = 2, floor
    // lifts to MinDfCap
    val dense = TextDedup.autoDfCap(
      TextDedup.gids(spark, denseDir, distinct = true))
      .collect()(0).getLong(0)
    assert(dense === TextDedup.MinDfCap)
    // ordinary testdata: max df ≈ 7 ≤ budget, so the raw cap is the
    // max df and the floor keeps the old fixed-cap behavior (no gram
    // anywhere near the cap)
    val sparse = TextDedup.autoDfCap(
      TextDedup.gids(spark, "/root/testdata/sf0.001", distinct = true))
      .collect()(0).getLong(0)
    assert(sparse === TextDedup.MinDfCap)
    val maxDf = TextDedup.gids(spark, "/root/testdata/sf0.001",
        distinct = true)
      .groupBy("gid").count().agg(max("count")).collect()(0).getLong(0)
    assert(maxDf < TextDedup.MinDfCap,
      "testdata must sit strictly under the floor for bit-identical " +
        "results vs the old fixed cap")
  }

  /** Four levels of 10-word documents, level L repeating one sentence
    * in 100·L docs (8 shingles of df 100·L each). Σ df²·k reaches
    * 1.12M at df 300 and 2.40M at df 400 against a budget of
    * 256 · 8000 gram rows = 2.05M, so the raw cap is 300: strictly
    * between the floor and the ceiling. Each level alone fits the
    * budget (400²·8 = 1.28M), so only a CUMULATIVE sum stops at 300. */
  private lazy val midDir: String = {
    val dir = java.nio.file.Files
      .createTempDirectory("graft-midcap").toString
    val docs = (1 to 4).flatMap { lvl =>
      (0 until 100 * lvl).map { i =>
        ((lvl * 1000 + i).toLong,
          (1 to 10).map(w => s"lv${lvl}w$w").mkString(" "))
      }
    }
    docs.toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("t"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("autoDfCap between floor and ceiling equals the df-histogram " +
      "reference, and the histogram's Σ df·k is the gram-row count") {
    val g = TextDedup.gids(spark, midDir, distinct = true)
    val hist = g.groupBy("gid").agg(count(lit(1)).as("df"))
      .groupBy("df").agg(count(lit(1)).as("k"))
      .as[(Long, Long)].collect().sortBy(_._1)
    val total = hist.map { case (df, k) => BigInt(df) * k }.sum
    assert(total === BigInt(g.count()))
    val budget = BigInt(TextDedup.PairBudget) * total
    val cums = hist.scanLeft((0L, BigInt(0))) {
      case ((_, c), (df, k)) => (df, c + BigInt(df) * df * k)
    }.tail
    val rawCap = cums.filter(_._2 <= budget).map(_._1)
      .foldLeft(0L)(math.max)
    val ref = math.min(TextDedup.MaxDfCap,
      math.max(TextDedup.MinDfCap, rawCap))
    assert(rawCap === 300L)
    assert(ref > TextDedup.MinDfCap && ref < TextDedup.MaxDfCap)
    assert(TextDedup.autoDfCap(g).collect()(0).getLong(0) === ref)
  }

  test("d02 under the auto-cap: hub all-pairs are dropped, the 10 " +
      "engineered near-dup pairs all survive") {
    val got = graft.SparkEntry.queries("d02_ngram_jaccard")(
      spark, denseDir).collect()
    // without the cap the hub sentence alone contributes ~180k pairs;
    // the budget bounds output to exactly the true near-dups
    assert(got.length === 10)
    val pairs = got.map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs === (0 until 10)
      .map(i => ((1000 + 2 * i).toLong, (1001 + 2 * i).toLong)).toSet)
    // identical 10-word docs: 8 shared grams, jaccard exactly 1.0
    assert(got.forall(_.getDouble(4) === 1.0))
  }

  test("s06 under the auto-cap shares d02's capped relation: " +
      "dense-corpus decontamination stays bounded") {
    val got = graft.SparkEntry.queries("s06_decontamination")(
      spark, denseDir).collect()
    // every surviving pair must come from the engineered low-df
    // vocabulary, never the hub sentence (whose grams are dropped);
    // an eval/train doc pair shares all 8 grams when it is one of the
    // engineered duplicates
    assert(got.length < 40, s"hub grams leaked: ${got.length} pairs")
    assert(got.forall(_.getLong(2) <= 8L))
  }
}
