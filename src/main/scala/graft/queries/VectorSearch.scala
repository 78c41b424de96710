package graft.queries

import graft.{Q, Tables}
import graft.functions.{Fns, VectorExprs}
import org.apache.spark.sql.{Column, DataFrame, GraftColumnBridge, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Similarity search over `embeddings` (64-dim float vectors) — the
  * ANN surface of a training-data pipeline (BASELINE.json north star).
  *
  * Three tiers, mirroring how this runs at 100 TB:
  *  - v01 brute-force top-k: broadcast the (small) query set against
  *    the full corpus — exact baseline, scales with corpus×queries.
  *  - v02 IVF coarse quantization: per-label centroids, assign queries
  *    to nearest cells — the partition-pruning step of IVF search.
  *  - v03 random-hyperplane LSH: 8-bit signatures, candidates only
  *    within a bucket equi-join — the sublinear scale path.
  *
  * All float math folds through scaled BIGINTs (order-independent, see
  * [[Fns.dotScaled]]) so cosines/distances are bit-identical between
  * Spark and the DuckDB oracle.
  */
object VectorSearch {

  /** Embedding width of the `embeddings` table (TESTDATA.md). */
  private val Dims = 64

  /** v01's query-set bound: the broadcast side is at most this many
    * rows no matter how large the corpus grows. */
  private[graft] val V01Queries = 20

  /** v01's bounded query set over any relation carrying `vec_id`:
    * sampled ids, unique-key ORDER BY + LIMIT, so both engines pick the
    * identical set — the one definition every query-set consumer
    * uses. */
  private def querySet(df: DataFrame): DataFrame =
    df.filter(col("vec_id") % 50 === 0).orderBy("vec_id").limit(V01Queries)

  /** Oracle twin of [[querySet]]: the clause after `FROM <relation>`. */
  private val QuerySetSql =
    s"WHERE vec_id % 50 = 0 ORDER BY vec_id LIMIT $V01Queries"

  /** Oracle fragment: embeddings pre-scaled to integer vectors
    * (sx_i = round(x_i·1e6), one rounding per element per VECTOR), plus
    * the integer squared norm. The pair-loop dot product is then pure
    * BIGINT multiply-add — no per-pair rounding — and exactly equals
    * Σ sx_a[i]·sx_b[i] in both engines. */
  private val normCte =
    """WITH e AS (
      |  SELECT vec_id,
      |    list_transform(embedding, x -> round(x::DOUBLE*1e6)::BIGINT) AS sx,
      |    CAST(list_sum(list_transform(
      |      list_transform(embedding, x -> round(x::DOUBLE*1e6)::BIGINT),
      |      x -> x*x)) AS BIGINT) AS n
      |  FROM embeddings)""".stripMargin

  private val dotSql =
    """CAST(list_sum(list_transform(list_zip(q.q_sx, e.sx),
      |      x -> x[1]*x[2])) AS BIGINT)""".stripMargin

  // ---------------------------------------------------------------
  // v01 brute-force cosine top-k — an explicit BOUNDED query set (the
  // first [[V01Queries]] sampled ids in deterministic vec_id order)
  // against the whole corpus; the corpus side streams (no shuffle),
  // the query side broadcasts. Exact; the baseline the ANN tiers are
  // judged against. The bound is what makes the broadcast safe at any
  // corpus size — unbounded query sets belong to v03's bucket join.
  val v01 = Q(
    "v01_knn_bruteforce",
    s"""$normCte,
      |q AS (SELECT vec_id AS q_id, sx AS q_sx, n AS q_n
      |      FROM e $QuerySetSql),
      |p AS (SELECT q.q_id, e.vec_id AS neighbor_id,
      |        $dotSql::DOUBLE / (sqrt(q.q_n::DOUBLE) * sqrt(e.n::DOUBLE)) AS cosine
      |      FROM q JOIN e ON e.vec_id <> q.q_id)
      |SELECT q_id, neighbor_id, rnk, cosine
      |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
      |        ORDER BY cosine DESC, neighbor_id) AS rnk FROM p) t
      |WHERE rnk <= 5""".stripMargin) { (s, dir) =>
    val e = eFrame(s, dir)
    // the bounded query set: sampled ids, unique-key ORDER BY + LIMIT
    // so both engines pick the identical set; broadcast size is
    // V01Queries rows regardless of corpus size
    val q = querySet(e)
      .select(col("vec_id").as("q_id"), col("sx").as("q_sx"),
        col("n").as("q_n"))
    val w = Window.partitionBy("q_id")
      .orderBy(col("cosine").desc, col("neighbor_id"))
    e.join(broadcast(q), col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("neighbor_id"),
        Fns.cosineFromScaled(
          VectorExprs.dotIntNative(col("q_sx"), col("sx")),
          col("q_n"), col("n")).as("cosine"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 5)
      .select("q_id", "neighbor_id", "rnk", "cosine")
  }

  /** Oracle CTE `el` = (vec_id, label, scaled vector, squared norm) —
    * the labeled twin of [[normCte]]'s `e`, shared by v04 + v06. */
  private val elCte =
    """el AS (
      |  SELECT vec_id, label,
      |    list_transform(embedding, x -> round(x::DOUBLE*1e6)::BIGINT) AS sx,
      |    CAST(list_sum(list_transform(
      |      list_transform(embedding, x -> round(x::DOUBLE*1e6)::BIGINT),
      |      x -> x*x)) AS BIGINT) AS n
      |  FROM embeddings)""".stripMargin

  /** Spark twin of [[elCte]], pinned (it always fans out). Size-gated
    * (VERDICT r11 ask #5): a pure scan projection, so the estimate is
    * credible — above the ceiling each consumer re-reads the columnar
    * scan instead of persisting ~the corpus to executor storage. */
  private def elFrame(emb: DataFrame): DataFrame =
    graft.operators.Pin.sized(emb
      .select(col("vec_id"), col("label"),
        Fns.scaleVec(col("embedding")).as("sx"))
      .withColumn("n", VectorExprs.normSqIntNative(col("sx"))), "elFrame")

  /** Spark twin of [[normCte]]'s `e` (vec_id, scaled vector, squared
    * norm), PINNED — seven v-family queries build this exact relation
    * inline (r11: each paid its own scan + scaleVec + norm pass, and
    * the composed reports v14/v18 paid it once per embedded method).
    * One definition → identical canonical plan → the session's cache
    * manager serves every consumer from one entry, the
    * [[graft.queries.TextDedup.sizedGids]] convention applied to the
    * vector side. Consumers needing fewer columns project the cache
    * (InMemoryTableScan prunes). */
  private def eFrame(s: SparkSession, dir: String): DataFrame =
    graft.operators.Pin.sized(Tables.load(s, dir, "embeddings")
      .select(col("vec_id"), Fns.scaleVec(col("embedding")).as("sx"))
      .withColumn("n", VectorExprs.normSqIntNative(col("sx"))), "eFrame")

  /** Shared coarse-assignment CTE chain (v02 + v04): per-label
    * centroid means via exact scaled-integer sums, then per-query
    * squared distance to every centroid as a sum of rounded 1e12-scale
    * integer terms — one definition so the two queries can never
    * drift. Yields CTE `d` = (q_id, label, ds). */
  private val coarseAssignCtes =
    """ex AS (SELECT label, generate_subscripts(embedding,1) AS pos,
      |         unnest(embedding) AS x FROM embeddings),
      |cen AS (SELECT label, pos,
      |          CAST(SUM(round(x::DOUBLE*1e9)::BIGINT) AS BIGINT) AS sxs,
      |          COUNT(*) AS c
      |        FROM ex GROUP BY label, pos),
      |cm AS (SELECT label, pos, sxs::DOUBLE / (c * 1e9) AS m FROM cen),
      |qx AS (SELECT vec_id AS q_id, generate_subscripts(embedding,1) AS pos,
      |         unnest(embedding) AS x
      |       FROM embeddings WHERE vec_id % 50 = 0),
      |d AS (SELECT q_id, cm.label,
      |        CAST(SUM(round((qx.x::DOUBLE - cm.m)*(qx.x::DOUBLE - cm.m)*1e12)::BIGINT) AS BIGINT) AS ds
      |      FROM qx JOIN cm ON qx.pos = cm.pos GROUP BY q_id, cm.label)"""
      .stripMargin

  /** Spark twin of [[coarseAssignCtes]]: (q_id, label, ds). */
  private def coarseDistances(emb: DataFrame): DataFrame = {
    // the centroid means are a projection of the one pinned codebook
    // aggregate, so v02, v04 and the quantizers (v07-v10, v17) share
    // one corpus pass and one cache entry in a session
    val cm = codebookSums(emb)
      .select(col("label"), col("pos0"),
        (col("sxs").cast(DoubleType) / (col("c") * lit(1e9))).as("m"))
    val qx = emb.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("q_id"),
        posexplode(col("embedding")).as(Seq("pos0", "x")))
    val diff = col("x").cast(DoubleType) - col("m")
    qx.join(broadcast(cm), "pos0")
      .select(col("q_id"), col("label"),
        round(diff * diff * lit(1e12)).cast(LongType).as("term"))
      .groupBy("q_id", "label")
      .agg(sum("term").as("ds"))
  }

  // ---------------------------------------------------------------
  // v02 IVF coarse assignment — per-label centroids (the "inverted
  // file" cell list), each query ranked against the 10 centroids.
  // Centroid build is one groupBy over (label, dim); assignment only
  // touches #queries × #cells rows — at scale this is the pruning
  // step before a within-cell v01.
  val v02 = Q(
    "v02_ivf_centroid_assign",
    s"""WITH $coarseAssignCtes
      |SELECT q_id, label, rnk, sqrt(ds::DOUBLE / 1e12) AS dist
      |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
      |        ORDER BY ds, label) AS rnk FROM d) t
      |WHERE rnk <= 2""".stripMargin) { (s, dir) =>
    val d = coarseDistances(Tables.load(s, dir, "embeddings"))
    val w = Window.partitionBy("q_id").orderBy(col("ds"), col("label"))
    d.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 2)
      .select(col("q_id"), col("label"), col("rnk"),
        sqrt(col("ds").cast(DoubleType) / lit(1e12)).as("dist"))
  }

  // ---------------------------------------------------------------
  // v03 random-hyperplane LSH — 8 deterministic pseudo-random planes
  // (coefficients hashed from (plane, dim)), sign pattern = 8-bit
  // bucket; neighbors searched only within the bucket equi-join, then
  // exact cosine + top-3. Sublinear candidate generation: the bucket
  // is the shuffle key, so the plan is a plain equi-join at any scale.
  val v03 = Q(
    "v03_lsh_ann",
    s"""$normCte,
      |ex AS (SELECT vec_id, generate_subscripts(embedding,1) AS pos,
      |         unnest(embedding) AS x FROM embeddings),
      |sg AS (SELECT vec_id, p,
      |         CAST(SUM(((('0x'||substr(md5('pl'||p||'_'||pos),1,15))::BIGINT % 2001) - 1000)
      |                  * round(x::DOUBLE*1e6)::BIGINT) AS BIGINT) AS s
      |       FROM ex CROSS JOIN (SELECT unnest(range(0,8)) AS p) ps
      |       GROUP BY vec_id, p),
      |bk AS (SELECT vec_id,
      |         CAST(SUM(CASE WHEN s > 0 THEN (1::BIGINT << p) ELSE 0 END) AS BIGINT) AS bucket
      |       FROM sg GROUP BY vec_id),
      |eb AS (SELECT e.vec_id, e.sx, e.n, bk.bucket
      |       FROM e JOIN bk ON e.vec_id = bk.vec_id),
      |q AS (SELECT vec_id AS q_id, sx AS q_sx, n AS q_n, bucket
      |      FROM eb WHERE vec_id % 50 = 0),
      |p AS (SELECT q.q_id, e.vec_id AS neighbor_id, q.bucket,
      |        CAST(list_sum(list_transform(list_zip(q.q_sx, e.sx),
      |          x -> x[1]*x[2])) AS BIGINT)::DOUBLE
      |          / (sqrt(q.q_n::DOUBLE) * sqrt(e.n::DOUBLE)) AS cosine
      |      FROM q JOIN eb e ON q.bucket = e.bucket AND e.vec_id <> q.q_id)
      |SELECT q_id, neighbor_id, bucket, rnk, cosine
      |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
      |        ORDER BY cosine DESC, neighbor_id) AS rnk FROM p) t
      |WHERE rnk <= 3""".stripMargin) { (s, dir) =>
    // Plane coefficients are md5-derived from the (plane, dim) pair —
    // deterministic, so they are computed ONCE here in Scala and baked
    // into the plan as 8 literal coefficient VECTORS (the oracle
    // recomputes the same md5 in SQL). Each plane signature is then one
    // native integer dot product sx·coefs_p — no row explosion, no
    // per-row md5, and a compact expression tree (a 512-term inline sum
    // costs seconds of Janino/JIT warm-up per generated stage).
    def planeCoef(p: Int, pos: Int): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s"pl${p}_$pos".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.substring(0, 15), 16) % 2001 - 1000
    }
    val emb = eFrame(s, dir)
    val bucket = (0 to 7).map { p =>
      val coefs = typedlit((1 to Dims).map(pos => planeCoef(p, pos)))
      when(VectorExprs.dotIntNative(col("sx"), coefs) > 0, lit(1L << p))
        .otherwise(0L)
    }.reduce(_ + _)
    val eb = emb.withColumn("bucket", bucket)
    val q = eb.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("q_id"), col("sx").as("q_sx"),
        col("n").as("q_n"), col("bucket").as("q_bucket"))
    val w = Window.partitionBy("q_id")
      .orderBy(col("cosine").desc, col("neighbor_id"))
    // the bucket key makes this a plain equi-join: no forced
    // broadcast — the query side grows with the corpus (1 in 50), so
    // the optimizer must be free to shuffle on bucket at scale. The
    // corpus side is never broadcast: both sides read the eFrame pin,
    // and on a cold pin AQE would otherwise broadcast whichever side's
    // cache stage finished first
    GraftColumnBridge.noBroadcast(eb).join(q,
        col("bucket") === col("q_bucket") && col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("neighbor_id"),
        col("q_bucket").as("bucket"),
        Fns.cosineFromScaled(
          VectorExprs.dotIntNative(col("q_sx"), col("sx")),
          col("q_n"), col("n")).as("cosine"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 3)
      .select("q_id", "neighbor_id", "bucket", "rnk", "cosine")
  }

  // ---------------------------------------------------------------
  // v04 IVF probe search — the full query path v02 is the first half
  // of: build per-cell centroids (cell = label), coarse-assign each
  // query to its nprobe=2 nearest cells, then exact cosine ONLY
  // against vectors in the probed cells. At 100 TB this is the plan
  // you want: the centroid table is #cells×dims (broadcast), the
  // probe decision touches #queries×#cells rows, and the candidate
  // join is a plain equi-join on the cell key — the corpus partitions
  // by cell and only probed partitions are read. Distances reuse
  // v02's rounded-term construction; cosines reuse the scaled-BIGINT
  // dot so every number is bit-identical cross-engine.
  val v04 = Q(
    "v04_ivf_probe_search",
    s"""WITH $elCte,
      |$coarseAssignCtes,
      |probe AS (SELECT q_id, label
      |          FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
      |                  ORDER BY ds, label) AS rnk FROM d) t
      |          WHERE rnk <= 2),
      |q AS (SELECT vec_id AS q_id, sx AS q_sx, n AS q_n FROM el
      |      WHERE vec_id % 50 = 0),
      |p AS (SELECT q.q_id, e.vec_id AS neighbor_id, e.label,
      |        CAST(list_sum(list_transform(list_zip(q.q_sx, e.sx),
      |          x -> x[1]*x[2])) AS BIGINT)::DOUBLE
      |          / (sqrt(q.q_n::DOUBLE) * sqrt(e.n::DOUBLE)) AS cosine
      |      FROM probe
      |      JOIN el e ON e.label = probe.label AND e.vec_id <> probe.q_id
      |      JOIN q ON q.q_id = probe.q_id)
      |SELECT q_id, neighbor_id, label, rnk, cosine
      |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
      |        ORDER BY cosine DESC, neighbor_id) AS rnk FROM p) t
      |WHERE rnk <= 5""".stripMargin) { (s, dir) =>
    val emb = Tables.load(s, dir, "embeddings")
    // el fans out (candidate join + query side): pin so the
    // scaleVec+norm pass runs once, like the dedup family's gram pin
    val el = elFrame(emb)
    // coarse assignment (shared with v02): nprobe=2 nearest cells
    val dAgg = coarseDistances(emb)
    val wProbe = Window.partitionBy("q_id").orderBy(col("ds"), col("label"))
    val probe = dAgg.withColumn("rnk", row_number().over(wProbe))
      .filter(col("rnk") <= 2)
      .select("q_id", "label")
    // exact search within probed cells only: equi-joins on the cell
    // key / q_id. Deliberately NOT force-broadcast (v03's rationale):
    // the query set here is a corpus fraction, so the probe/q sides
    // GROW with the data — AQE broadcasts them while small and falls
    // back to shuffle joins on the cell key at scale, where forcing a
    // broadcast would OOM the driver (the v01 round-2 lesson; v01's
    // query set is bounded by construction instead)
    val q = el.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("q_id"), col("sx").as("q_sx"),
        col("n").as("q_n"))
    val w = Window.partitionBy("q_id")
      .orderBy(col("cosine").desc, col("neighbor_id"))
    el.join(probe,
        el("label") === probe("label") && col("vec_id") =!= probe("q_id"))
      .select(col("q_id"), col("vec_id").as("neighbor_id"), el("label"),
        col("sx"), col("n"))
      .join(q, "q_id")
      .select(col("q_id"), col("neighbor_id"), col("label"),
        Fns.cosineFromScaled(
          VectorExprs.dotIntNative(col("q_sx"), col("sx")),
          col("q_n"), col("n")).as("cosine"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 5)
      .select("q_id", "neighbor_id", "label", "rnk", "cosine")
  }

  // ---------------------------------------------------------------
  // v05 int8 scalar quantization — the index-compression step of a
  // vector store (FAISS SQ8 shape): per vector, symmetric-range int8
  // codes q_i = round(x_i·127/max|x|) plus the reconstruction-quality
  // report (MSE, saturated and zeroed code counts). 64 bytes/vector
  // instead of 256 — the difference between an index that fits
  // executor memory at 100 TB and one that doesn't. Pure per-row
  // narrow compute, no shuffle. All arithmetic runs on the 1e6-scaled
  // integer vectors: max|sx| is exact, q_i rounds an exact-in-double
  // ratio, and the squared errors fold to BIGINTs (order-independent)
  // — bit-identical cross-engine.
  val v05 = Q(
    "v05_scalar_quant",
    s"""WITH e AS (
      |  SELECT vec_id, label,
      |    list_transform(embedding, x -> round(x::DOUBLE*1e6)::BIGINT) AS sx
      |  FROM embeddings),
      |m AS (SELECT vec_id, label, sx,
      |    CAST(list_max(list_transform(sx, x -> abs(x))) AS BIGINT) AS mx
      |  FROM e WHERE CAST(list_max(list_transform(sx, x -> abs(x))) AS BIGINT) > 0),
      |q AS (SELECT vec_id, label, sx, mx,
      |    list_transform(sx, x -> CAST(round(x * 127.0 / mx) AS BIGINT)) AS qv
      |  FROM m)
      |SELECT vec_id, label, mx AS scale,
      |  CAST(list_sum(list_transform(list_zip(sx, qv),
      |    p -> CAST(round((p[1]::DOUBLE - p[2]::DOUBLE * mx / 127.0)
      |            * (p[1]::DOUBLE - p[2]::DOUBLE * mx / 127.0)) AS BIGINT)))
      |    AS BIGINT) AS sq_err_scaled,
      |  CAST(list_sum(list_transform(list_zip(sx, qv),
      |    p -> CAST(round((p[1]::DOUBLE - p[2]::DOUBLE * mx / 127.0)
      |            * (p[1]::DOUBLE - p[2]::DOUBLE * mx / 127.0)) AS BIGINT)))
      |    AS BIGINT)::DOUBLE / ($Dims * 1e12) AS mse,
      |  len(list_filter(qv, x -> x = 0)) AS n_zero,
      |  len(list_filter(qv, x -> abs(x) = 127)) AS n_sat
      |FROM q""".stripMargin) { (s, dir) =>
    // one native pass per vector ([[graft.functions.Quant8Stats]]):
    // max|sx|, codes, squared errors and code counts in a single JVM
    // loop — the composed five-HOF-pass Column path measured ~13×
    // DuckDB (CodegenFallback per element); identical arithmetic, so
    // the oracle hash is unchanged. scale=0 marks zero vectors
    // (quantization undefined — filtered, mirrored in the oracle).
    Tables.load(s, dir, "embeddings")
      .select(col("vec_id"), col("label"),
        VectorExprs.quant8Stats(Fns.scaleVec(col("embedding"))).as("f"))
      .filter(col("f.scale") > 0)
      .select(col("vec_id"), col("label"), col("f.scale").as("scale"),
        col("f.sq_err").as("sq_err_scaled"),
        (col("f.sq_err").cast(DoubleType) / (lit(Dims) * lit(1e12)))
          .as("mse"),
        col("f.n_zero").as("n_zero"), col("f.n_sat").as("n_sat"))
  }

  // ---------------------------------------------------------------
  // v06 ANN recall@5 — the evaluation an ANN deployment runs before
  // trusting its index (the vector twin of d09): v04's IVF probe
  // results scored against v01's exact brute-force top-5 over the
  // same bounded query set. Per query: hits and recall@5 — recall <
  // 1 means the true neighbor lived outside the nprobe=2 probed
  // cells, the signal to raise nprobe or refine cells. The Spark
  // side literally runs v01 and v04 and joins their outputs, so the
  // report scores exactly what those operators compute; the oracle
  // re-derives the same algebra from the shared el/coarse fragments.
  val v06 = Q(
    "v06_ann_recall",
    s"""WITH $elCte,
      |$coarseAssignCtes,
      |e AS (SELECT vec_id, sx, n FROM el),
      |q AS (SELECT vec_id AS q_id, sx AS q_sx, n AS q_n
      |      FROM e $QuerySetSql),
      |truth AS (SELECT q_id, neighbor_id FROM (
      |    SELECT q.q_id, e.vec_id AS neighbor_id,
      |      ROW_NUMBER() OVER (PARTITION BY q.q_id ORDER BY
      |        $dotSql::DOUBLE / (sqrt(q.q_n::DOUBLE) * sqrt(e.n::DOUBLE))
      |          DESC, e.vec_id) AS rnk
      |    FROM q JOIN e ON e.vec_id <> q.q_id) t
      |  WHERE rnk <= 5),
      |probe AS (SELECT q_id, label
      |          FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
      |                  ORDER BY ds, label) AS rnk FROM d) t
      |          WHERE rnk <= 2),
      |approx AS (SELECT q.q_id, e.vec_id AS neighbor_id,
      |      $dotSql::DOUBLE / (sqrt(q.q_n::DOUBLE) * sqrt(e.n::DOUBLE))
      |        AS cosine
      |    FROM probe
      |    JOIN el e ON e.label = probe.label AND e.vec_id <> probe.q_id
      |    JOIN q ON q.q_id = probe.q_id),
      |ar AS (SELECT q_id, neighbor_id FROM (
      |    SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
      |      ORDER BY cosine DESC, neighbor_id) AS rnk FROM approx) t
      |  WHERE rnk <= 5),
      |hits AS (SELECT t.q_id, CAST(COUNT(*) AS BIGINT) AS c
      |    FROM truth t JOIN ar ON t.q_id = ar.q_id
      |      AND t.neighbor_id = ar.neighbor_id
      |    GROUP BY t.q_id)
      |SELECT q.q_id, CAST(COALESCE(hits.c, 0) AS BIGINT) AS n_hits,
      |  COALESCE(hits.c, 0)::DOUBLE / 5.0 AS recall_at_5
      |FROM q LEFT JOIN hits ON q.q_id = hits.q_id""".stripMargin) {
    (s, dir) =>
      // Spark side scores the operators' OWN plans verbatim: truth is
      // v01's output, the approx side is v04's output restricted to
      // the bounded query set (per-q_id ranking makes restricting
      // before or after the top-5 identical). Re-authoring either
      // plan here would let v06 drift from what it claims to score —
      // the oracle mirrors the same algebra from the shared el/coarse
      // fragments. The report spine (qIds) is derived the way v01
      // derives its query SET — sampled ids, unique-key ORDER BY +
      // LIMIT — not from truth's output: on a degenerate corpus (one
      // embedding, so v01 yields zero pairs) the oracle still reports
      // the query with n_hits = 0, and so must we. Truth is pinned:
      // it feeds the hit join across reps.
      val truth = graft.operators.Pin(
        v01.run(s, dir).select("q_id", "neighbor_id"))
      val qIds = querySet(Tables.load(s, dir, "embeddings"))
        .select(col("vec_id").as("q_id"))
      val ar = v04.run(s, dir).select("q_id", "neighbor_id")
        .join(broadcast(qIds), "q_id")
      val hits = truth.join(ar, Seq("q_id", "neighbor_id"))
        .groupBy("q_id").agg(count(lit(1)).as("c"))
      qIds.join(hits, Seq("q_id"), "left")
        .select(col("q_id"),
          coalesce(col("c"), lit(0L)).as("n_hits"),
          (coalesce(col("c"), lit(0L)).cast(DoubleType) / lit(5.0))
            .as("recall_at_5"))
  }

  // ---------------------------------------------------------------
  // v07 k-means refinement — ONE Lloyd's iteration over the corpus,
  // closing the loop on where v02/v04's IVF cells come from: seed
  // centroids are the per-label means (v02's cm), every vector is
  // re-assigned to its nearest centroid, and the cells are
  // re-averaged. Per refined cell: member count, how many members
  // switched label, and how far the centroid moved.
  //
  // The 100 TB shape is MLlib KMeans': the k·d centroid table is
  // DRIVER state (collected once per iteration — the sync point every
  // Lloyd's implementation has), baked into the assignment pass as
  // literal vectors, so the corpus is assigned in one narrow
  // projection with NO shuffle and no per-row join. Only the
  // re-average shuffles, and its group count is k·d (640), not the
  // corpus. All distances fold per-dimension rounded 1e12-scale terms
  // into BIGINTs (v02's construction) — bit-identical cross-engine;
  // argmin tie-breaks on cell id via struct ordering, mirroring the
  // oracle's ORDER BY ds, cell.
  /** Shared oracle CTE chain for k-means cell assignment (v07 + d14
    * — ONE centroid/argmin definition across the vector tier, the
    * same single-sourcing contract as [[pqCodesCtes]]): `ex` element
    * rows → `cen`/`cm` exact scaled-integer per-label centroid means
    * → `d` per-(vector, cell) rounded-term distance → `a` argmin cell
    * (ties → smallest cell, the oracle's ORDER BY ds, cell). */
  private val kmAssignCtes =
    """ex AS (
      |  SELECT vec_id, label, generate_subscripts(embedding,1) AS pos,
      |    unnest(embedding) AS x
      |  FROM embeddings),
      |cen AS (SELECT label, pos,
      |    CAST(SUM(round(x::DOUBLE*1e9)::BIGINT) AS BIGINT) AS sxs,
      |    COUNT(*) AS c
      |  FROM ex GROUP BY label, pos),
      |cm AS (SELECT label, pos, sxs::DOUBLE / (c * 1e9) AS m FROM cen),
      |d AS (SELECT ex.vec_id, cm.label AS cell,
      |    CAST(SUM(round((ex.x::DOUBLE - cm.m)*(ex.x::DOUBLE - cm.m)*1e12)::BIGINT)
      |      AS BIGINT) AS ds
      |  FROM ex JOIN cm ON ex.pos = cm.pos
      |  GROUP BY ex.vec_id, cm.label),
      |a AS (SELECT vec_id, cell FROM (
      |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
      |      ORDER BY ds, cell) AS rnk FROM d) t
      |  WHERE rnk = 1)""".stripMargin

  val v07 = Q(
    "v07_kmeans_refine",
    s"""WITH $kmAssignCtes,
      |ax AS (SELECT a.cell, ex.pos, ex.x
      |  FROM ex JOIN a ON ex.vec_id = a.vec_id),
      |ncm AS (SELECT cell, pos,
      |    CAST(SUM(round(x::DOUBLE*1e9)::BIGINT) AS BIGINT)::DOUBLE
      |      / (COUNT(*) * 1e9) AS m2
      |  FROM ax GROUP BY cell, pos),
      |sh AS (SELECT ncm.cell,
      |    CAST(SUM(round((ncm.m2 - cm.m)*(ncm.m2 - cm.m)*1e12)::BIGINT)
      |      AS BIGINT) AS sq
      |  FROM ncm JOIN cm ON ncm.cell = cm.label AND ncm.pos = cm.pos
      |  GROUP BY ncm.cell),
      |mem AS (SELECT a.cell, CAST(COUNT(*) AS BIGINT) AS n_members,
      |    CAST(SUM(CASE WHEN e2.label <> a.cell THEN 1 ELSE 0 END)
      |      AS BIGINT) AS n_switched
      |  FROM a JOIN embeddings e2 ON a.vec_id = e2.vec_id
      |  GROUP BY a.cell)
      |SELECT mem.cell, mem.n_members, mem.n_switched,
      |  sqrt(sh.sq::DOUBLE / 1e12) AS shift
      |FROM mem JOIN sh ON mem.cell = sh.cell""".stripMargin) { (s, dir) =>
    val emb = Tables.load(s, dir, "embeddings")
    // seed centroids: the codebook sums, also joined by the shift
    // report below (the pin keeps that to one corpus pass)
    val cm = codebookSums(emb)
    collectCodebook(cm) match {
      case None =>
        // degenerate corpus: no vectors -> no cells, schema-only result
        emb.select(col("label").as("cell"), lit(0L).as("n_members"),
          lit(0L).as("n_switched"), lit(0.0).as("shift")).limit(0)
      case Some((cells, cen)) =>
        // one native pass per vector ([[graft.functions.CentroidArgmin]]):
        // k rounded-term distances + argmin with the (ds, cell) tie-break
        // in a single JVM loop — the composed k-way zip_with/aggregate/
        // array_min column is interpreted (HOFs are CodegenFallback) and
        // measured ~2.4× slower end-to-end; identical arithmetic, so the
        // oracle hash is unchanged
        val best = VectorExprs.centroidArgmin(col("embedding"),
          cells, cells.map(l => cen(l).toSeq))
        // pinned: two consumers (membership stats and the re-average)
        // would otherwise each pay the k-way distance scan. NULL and
        // EMPTY embeddings both drop — the oracle's unnest emits no rows
        // for either, so they exist in no `a` assignment — and the one
        // size predicate covers both (size(null) is null) ON THE INPUT
        // COLUMN: filtering `cell` would push the predicate below the
        // projection and re-run the native argmin per row.
        val assigned = graft.operators.Pin(
          emb.filter(size(col("embedding")) > 0)
            .select(col("vec_id"), col("label"), col("embedding"),
              best.as("cell")))
        val mem = assigned.groupBy("cell").agg(
          count(lit(1)).as("n_members"),
          sum(when(col("label") =!= col("cell"), 1L).otherwise(0L))
            .as("n_switched"))
        val ncm = assigned
          .select(col("cell"),
            posexplode(col("embedding")).as(Seq("pos0", "x")))
          .groupBy("cell", "pos0")
          .agg(sum(round(col("x").cast(DoubleType) * 1e9).cast(LongType))
            .as("sxs2"), count(lit(1)).as("c2"))
          .select(col("cell"), col("pos0"),
            (col("sxs2").cast(DoubleType) / (col("c2") * lit(1e9))).as("m2"))
        val cmM = cm.select(col("label"), col("pos0").as("cpos"),
          (col("sxs").cast(DoubleType) / (col("c") * lit(1e9))).as("m"))
        val sh = ncm.join(broadcast(cmM),
            ncm("cell") === cmM("label") && ncm("pos0") === cmM("cpos"))
          .select(col("cell"),
            round((col("m2") - col("m")) * (col("m2") - col("m")) * lit(1e12))
              .cast(LongType).as("term"))
          .groupBy("cell").agg(sum("term").as("sq"))
        mem.join(sh, "cell")
          .select(col("cell"), col("n_members"), col("n_switched"),
            sqrt(col("sq").cast(DoubleType) / lit(1e12)).as("shift"))
    }
  }

  /** v08's subvector width: 64 dims → 8 subspaces of 8, so a code
    * word is 8 bytes where the raw vector is 256 — the 32× index
    * compression PQ exists for. */
  private val SubDims = 8

  // ---------------------------------------------------------------
  // v08 product quantization — the third member of the FAISS index
  // family the vector tier mirrors (v02/v04 IVF partitioning, v05
  // SQ8 scalar codes, v08 PQ codes; Jégou et al. 2011): each vector
  // is split into 8-dim subvectors and every subvector is assigned
  // independently to its nearest codebook entry, the entries being
  // the per-label coarse centroids' matching slices (the standard
  // coarse-seeded codebook — and the same driver-collected cm
  // relation v07 trains from, so the vector tier has ONE centroid
  // definition). Per vector: the 8-code word and the exact
  // reconstruction error, which is the sum of the chosen per-subspace
  // minima — no second reconstruction pass.
  //
  // The 100 TB shape is v07's: k·d codebook doubles are DRIVER state
  // baked into a native single-pass encoder ([[graft.functions
  // .PqEncodeStats]]) — the corpus encodes in one narrow projection
  // with NO shuffle and no join; output rows are 8 ints + 1 long per
  // vector. Distances fold per-dimension rounded 1e12-scale terms
  // into BIGINTs (v02's construction) — bit-identical cross-engine;
  // per-subspace argmin tie-breaks on code id, the oracle's ORDER BY
  // ds, code.
  /** Shared oracle CTE chain deriving PQ code words (v08 + v09, one
    * definition so the encoder and the searcher can never disagree on
    * a code): `ex` element rows → `cen`/`cm` exact scaled-integer
    * codebook means → `d` per-(vector, subspace, code) scaled squared
    * distance → `a` per-subspace argmin code (ties → smallest code). */
  private val pqCodesCtes =
    s"""ex AS (
      |  SELECT vec_id, label, generate_subscripts(embedding,1) AS pos,
      |    unnest(embedding) AS x
      |  FROM embeddings),
      |cen AS (SELECT label, pos,
      |    CAST(SUM(round(x::DOUBLE*1e9)::BIGINT) AS BIGINT) AS sxs,
      |    COUNT(*) AS c
      |  FROM ex GROUP BY label, pos),
      |cm AS (SELECT label, pos, sxs::DOUBLE / (c * 1e9) AS m FROM cen),
      |d AS (SELECT ex.vec_id, CAST((ex.pos-1)//$SubDims AS BIGINT) AS sub,
      |    cm.label AS code,
      |    CAST(SUM(round((ex.x::DOUBLE-cm.m)*(ex.x::DOUBLE-cm.m)*1e12)::BIGINT)
      |      AS BIGINT) AS ds
      |  FROM ex JOIN cm ON ex.pos = cm.pos
      |  GROUP BY ex.vec_id, (ex.pos-1)//$SubDims, cm.label),
      |a AS (SELECT vec_id, sub, code, ds FROM (
      |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, sub
      |      ORDER BY ds, code) AS rnk FROM d) t
      |  WHERE rnk = 1)""".stripMargin

  val v08 = Q(
    "v08_pq_encode",
    s"""WITH $pqCodesCtes
      |SELECT a.vec_id, e2.label,
      |  string_agg(a.code::VARCHAR, '-' ORDER BY a.sub) AS codes,
      |  CAST(SUM(a.ds) AS BIGINT) AS sq_err_scaled,
      |  SUM(a.ds)::DOUBLE / ($Dims * 1e12) AS mse
      |FROM a JOIN embeddings e2 ON a.vec_id = e2.vec_id
      |GROUP BY a.vec_id, e2.label""".stripMargin) { (s, dir) =>
    val emb = Tables.load(s, dir, "embeddings")
    collectCodebook(codebookSums(emb)) match {
      case None =>
        emb.select(col("vec_id"), col("label"), lit("").as("codes"),
          lit(0L).as("sq_err_scaled"), lit(0.0).as("mse")).limit(0)
      case Some((codeIds, cen)) =>
      val f = VectorExprs.pqEncodeStats(col("embedding"), SubDims,
        codeIds, codeIds.map(l => cen(l).toSeq))
      // empty vectors produce no oracle rows (unnest emits nothing)
      // and null vectors fail the size predicate (size(null) is null)
      // — one filter covers both, ON THE INPUT COLUMN: a filter on
      // the encode output would push below the projection and
      // re-evaluate the whole native pass per row (plan-audited 2×
      // encode before this shape)
      emb.filter(size(col("embedding")) > 0)
        .select(col("vec_id"), col("label"), f.as("f"))
        .select(col("vec_id"), col("label"),
          concat_ws("-", col("f.codes").cast(ArrayType(StringType)))
            .as("codes"),
          col("f.sq_err").as("sq_err_scaled"),
          (col("f.sq_err").cast(DoubleType) / (lit(Dims) * lit(1e12)))
            .as("mse"))
    }
  }

  /** The codebook's exact scaled-integer sums per (label, dim):
    * `(label, pos0, sxs, c)`, the oracle's `cen` CTE. Pinned: the
    * relation is (labels × dims) rows but its build is a corpus-grain
    * posexplode+agg — v07-v10 and v17 each read it per invocation, v18
    * embeds two of them, and v02/v04 project their centroid means from
    * it, so without the pin the corpus pass re-ran per caller (the
    * collect itself stays |labels·dims|-bounded driver sync). */
  private def codebookSums(emb: DataFrame): DataFrame =
    graft.operators.Pin(emb
      .select(col("label"),
        posexplode(col("embedding")).as(Seq("pos0", "x")))
      .groupBy("label", "pos0")
      .agg(sum(round(col("x").cast(DoubleType) * 1e9).cast(LongType))
        .as("sxs"), count(lit(1)).as("c")))

  /** Driver-collected codebook from [[codebookSums]]: sorted code ids
    * plus per-code mean vectors, k·d doubles of driver state (the
    * Lloyd's sync point every quantizer pays) — the seed centroids of
    * v07 and the PQ codebook of v08-v10 and v17. Same arithmetic as
    * the oracle's cm CTE (sxs::DOUBLE / (c*1e9)), so the literals
    * baked into the assignment and encode expressions are bit-equal
    * to what DuckDB divides; the width comes from the observed
    * positions, not an assumed 64. None on an empty corpus. */
  private def collectCodebook(
      sums: DataFrame): Option[(Seq[Int], Map[Int, Array[Double]])] = {
    val cenRows = sums.collect()
    if (cenRows.isEmpty) None
    else {
      val width = cenRows.map(_.getInt(1)).max + 1
      val cen: Map[Int, Array[Double]] = cenRows
        .groupBy(_.getInt(0))
        .map { case (l, rows) =>
          val arr = new Array[Double](width)
          rows.foreach(r =>
            arr(r.getInt(1)) = r.getLong(2).toDouble / (r.getLong(3) * 1e9))
          l -> arr
        }
      Some((cen.keys.toSeq.sorted, cen))
    }
  }

  // ---------------------------------------------------------------
  // v09 PQ asymmetric-distance search (ADC; Jégou et al. 2011 §IV) —
  // the query side of the PQ index v08 builds: each query computes a
  // per-(subspace, code) lookup table of exact scaled squared
  // distances to the codebook entries, and a corpus vector's distance
  // is then just the sum of 8 table lookups on its code word — the
  // scan never touches raw corpus floats. Query set = v01's bounded
  // spine (first [[V01Queries]] sampled ids), so the LUT side is
  // driver-scale no matter how large the corpus grows.
  //
  // 100 TB shape: corpus codes come from the same native zero-shuffle
  // encoder as v08; the LUT (queries × 8 subs × k codes rows) is
  // BROADCAST into an equi-join on (sub, code), fanning each corpus
  // vector to exactly queries×8 rows that map-side-combine straight
  // back down to (query, vector) partial sums — no raw-vector
  // shuffle, no pair blowup beyond the explicit query bound. Distances
  // stay 1e12-scaled BIGINTs end to end (bit-identical cross-engine);
  // top-5 tie-breaks on neighbor_id.

  /** Shared oracle CTE chain for the ADC query side (v09 + v10):
    * `q` bounded spine → `qx` query elements → `lut` per-(query,
    * subspace, code) scaled squared distances. */
  private val pqLutCtes =
    s"""q AS (SELECT vec_id AS q_id FROM embeddings $QuerySetSql),
      |qx AS (SELECT ex.vec_id AS q_id, ex.pos, ex.x
      |       FROM ex JOIN q ON ex.vec_id = q.q_id),
      |lut AS (SELECT qx.q_id, CAST((qx.pos-1)//$SubDims AS BIGINT) AS sub,
      |    cm.label AS code,
      |    CAST(SUM(round((qx.x::DOUBLE-cm.m)*(qx.x::DOUBLE-cm.m)*1e12)::BIGINT)
      |      AS BIGINT) AS ds
      |  FROM qx JOIN cm ON qx.pos = cm.pos
      |  GROUP BY qx.q_id, (qx.pos-1)//$SubDims, cm.label)""".stripMargin

  val v09 = Q(
    "v09_pq_adc_search",
    s"""WITH $pqCodesCtes,
      |$pqLutCtes,
      |p AS (SELECT l.q_id, a.vec_id AS neighbor_id,
      |    CAST(SUM(l.ds) AS BIGINT) AS adc_scaled
      |  FROM a JOIN lut l ON a.sub = l.sub AND a.code = l.code
      |  WHERE a.vec_id <> l.q_id
      |  GROUP BY l.q_id, a.vec_id)
      |SELECT q_id, neighbor_id, rnk, adc_scaled,
      |  adc_scaled::DOUBLE / 1e12 AS adc_dist
      |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
      |        ORDER BY adc_scaled, neighbor_id) AS rnk FROM p) z
      |WHERE rnk <= 5""".stripMargin) { (s, dir) =>
    val emb = Tables.load(s, dir, "embeddings")
    collectCodebook(codebookSums(emb)) match {
      case None =>
        emb.select(col("vec_id").as("q_id"),
          col("vec_id").as("neighbor_id"), lit(1).as("rnk"),
          lit(0L).as("adc_scaled"), lit(0.0).as("adc_dist")).limit(0)
      case Some((codeIds, cen)) =>
        // the LUT is driver state (queries × 8 subs × k codes longs —
        // bounded by the query-set contract like the codebook itself),
        // baked into ONE native scan pass: encode + 8 table lookups
        // per query, the corpus never joins (PqAdcLut scaladoc)
        val (qIds, lut) = collectAdcLut(emb, codeIds, cen)
        val w = Window.partitionBy("q_id")
          .orderBy(col("adc_scaled"), col("neighbor_id"))
        pqAdcRows(emb, codeIds, cen, qIds, lut)
          .withColumn("rnk", row_number().over(w))
          .filter(col("rnk") <= 5)
          .select(col("q_id"), col("neighbor_id"), col("rnk"),
            col("adc_scaled"),
            (col("adc_scaled").cast(DoubleType) / lit(1e12))
              .as("adc_dist"))
    }
  }

  /** Driver-computed ADC lookup tables for v01's bounded query spine:
    * per query, the flat (sub·k + codeIdx) → scaled squared distance
    * array, with the oracle's exact arithmetic — per-dimension
    * HALF_UP-rounded 1e12-scale terms ([[graft.functions.ExactRound]],
    * the same decisions as Spark's round() and DuckDB's) summed per
    * (query, sub, code) as integers. Null query elements contribute no
    * term (the oracle's SUM skips the null rounded term); a NULL query
    * embedding consumes its LIMIT slot (the oracle's `q` CTE has no
    * null filter) but builds no LUT — the query is absent from the
    * output, exactly as the oracle's unnest emits nothing for it.
    * Returns the query ids (the explode-position → q_id map) and the
    * LUTs. */
  private def collectAdcLut(emb: DataFrame, codeIds: Seq[Int],
      cen: Map[Int, Array[Double]]): (Seq[Long], Seq[Seq[Long]]) = {
    val k = codeIds.length
    val qRows = querySet(emb)
      .select("vec_id", "embedding").collect()
    val built = qRows.flatMap { r =>
      // null AND empty query embeddings consume their LIMIT slot but
      // build no LUT: the oracle's unnest emits no rows for either,
      // so the query is absent from its lut CTE and from the output
      if (r.isNullAt(1) || r.getSeq[Any](1).isEmpty) None
      else {
        val xs = r.getSeq[Any](1)
        val nSubs = (xs.length + SubDims - 1) / SubDims
        val t = new Array[Long](nSubs * k)
        var sub = 0
        while (sub < nSubs) {
          var ci = 0
          while (ci < k) {
            val m = cen(codeIds(ci))
            var s = 0L
            var i = sub * SubDims
            val hi = math.min(xs.length, i + SubDims)
            while (i < hi) {
              // float AND double element layouts (both accepted by the
              // natives' checkInputDataTypes; the oracle casts ::DOUBLE)
              val xi: java.lang.Double = xs(i) match {
                case f: java.lang.Float => f.toDouble
                case d: java.lang.Double => d
                case _ => null // null element: no term (oracle SUM skip)
              }
              if (xi != null && i < m.length) {
                val d = xi.doubleValue() - m(i)
                s += graft.functions.ExactRound.halfUp(d * d * 1e12)
              }
              i += 1
            }
            t(sub * k + ci) = s
            ci += 1
          }
          sub += 1
        }
        Some((r.getLong(0), t.toSeq))
      }
    }
    (built.map(_._1).toSeq, built.map(_._2).toSeq)
  }

  /** Shared v09/v10 scan: one native encode + ADC pass per corpus
    * vector, exploded to (q_id, neighbor_id, label, adc_scaled) rows.
    * The queries×corpus fan-out exists only as the emitted array —
    * consumed by posexplode in the same stage; self-pairs drop. */
  private def pqAdcRows(emb: DataFrame, codeIds: Seq[Int],
      cen: Map[Int, Array[Double]], qIds: Seq[Long],
      lut: Seq[Seq[Long]]): DataFrame = {
    val f = VectorExprs.pqEncodeStats(col("embedding"), SubDims,
      codeIds, codeIds.map(l => cen(l).toSeq))
    // size(null) is null → the one input-column filter covers empty
    // AND null vectors; filtering the encode output instead would
    // re-evaluate the native pass per row (v08's comment)
    emb.filter(size(col("embedding")) > 0)
      .select(col("vec_id"), col("label"), f.as("f"))
      .select(col("vec_id"), col("label"),
        posexplode(VectorExprs.pqAdcLut(col("f.codes"), codeIds, lut))
          .as(Seq("qp", "adc_scaled")))
      .withColumn("q_id", element_at(typedlit(qIds), col("qp") + 1))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("neighbor_id"),
        col("label"), col("qp"), col("adc_scaled"))
  }

  // ---------------------------------------------------------------
  // v10 IVF-PQ search (Jégou et al. 2011 §V; the FAISS IVFPQ index) —
  // the two pruning ideas composed, which is what actually runs at
  // billion scale: v04's coarse probe decides WHICH inverted lists to
  // scan (nprobe=2 cells per query) and v09's ADC decides HOW to
  // score them (8 table lookups per corpus vector, never touching
  // raw floats). The probe needs no extra distance pass: a cell's
  // coarse distance is exactly the sum of that code's LUT entries
  // over all 8 subspaces (the same rounded 1e12-scale terms, summed
  // in a different grouping) — so probing and scoring share ONE
  // distance definition and stay bit-identical cross-engine.
  //
  // 100 TB shape: the corpus relation is the 8-byte code word + cell
  // key (partition the index by cell and only probed partitions are
  // read); probe (queries×nprobe rows) and lut (queries×8×k rows)
  // both broadcast; the candidate join is a plain equi-join on the
  // cell key, fan-out bounded by the query spine × probed-list sizes,
  // and partial sums map-side combine to (query, vector) before the
  // only shuffle. Top-5 tie-breaks on neighbor_id.
  val v10 = Q(
    "v10_ivfpq_search",
    s"""WITH $pqCodesCtes,
      |$pqLutCtes,
      |probe AS (SELECT q_id, cell FROM (
      |    SELECT q_id, code AS cell,
      |      ROW_NUMBER() OVER (PARTITION BY q_id
      |        ORDER BY CAST(SUM(ds) AS BIGINT), code) AS rnk
      |    FROM lut GROUP BY q_id, code) t
      |  WHERE rnk <= 2),
      |cand AS (SELECT a.vec_id, e2.label, a.sub, a.code
      |         FROM a JOIN embeddings e2 ON a.vec_id = e2.vec_id),
      |p AS (SELECT l.q_id, c.vec_id AS neighbor_id, c.label AS cell,
      |    CAST(SUM(l.ds) AS BIGINT) AS adc_scaled
      |  FROM cand c
      |  JOIN probe pr ON pr.cell = c.label AND c.vec_id <> pr.q_id
      |  JOIN lut l ON l.q_id = pr.q_id AND l.sub = c.sub AND l.code = c.code
      |  GROUP BY l.q_id, c.vec_id, c.label)
      |SELECT q_id, neighbor_id, cell, rnk, adc_scaled,
      |  adc_scaled::DOUBLE / 1e12 AS adc_dist
      |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
      |        ORDER BY adc_scaled, neighbor_id) AS rnk FROM p) z
      |WHERE rnk <= 5""".stripMargin) { (s, dir) =>
    val emb = Tables.load(s, dir, "embeddings")
    collectCodebook(codebookSums(emb)) match {
      case None =>
        emb.select(col("vec_id").as("q_id"),
          col("vec_id").as("neighbor_id"), col("label").as("cell"),
          lit(1).as("rnk"), lit(0L).as("adc_scaled"),
          lit(0.0).as("adc_dist")).limit(0)
      case Some((codeIds, cen)) =>
        val (qIds, lut) = collectAdcLut(emb, codeIds, cen)
        val probe = probeCells(codeIds, lut)
        val w = Window.partitionBy("q_id")
          .orderBy(col("adc_scaled"), col("neighbor_id"))
        pqAdcRows(emb, codeIds, cen, qIds, lut)
          // probed-cells membership: a literal queries×2 array — the
          // partition-pruning predicate at scale (only probed cells'
          // partitions are read when the index is cell-partitioned)
          .filter(array_contains(
            element_at(typedlit(probe), col("qp") + 1), col("label")))
          .select(col("q_id"), col("neighbor_id"),
            col("label").as("cell"), col("adc_scaled"))
          .withColumn("rnk", row_number().over(w))
          .filter(col("rnk") <= 5)
          .select(col("q_id"), col("neighbor_id"), col("cell"),
            col("rnk"), col("adc_scaled"),
            (col("adc_scaled").cast(DoubleType) / lit(1e12))
              .as("adc_dist"))
    }
  }

  /** Coarse probe FROM the driver LUT (shared v10 + v17): a cell's
    * coarse distance is exactly Σ_sub of that code's LUT entries
    * (v04's rounded-term distance in a different grouping) — pure
    * integer sums over driver state, (cd, cell) tie-break as the
    * oracle's ORDER BY. probe(qp) = the ≤2 cells to scan. */
  private def probeCells(codeIds: Seq[Int],
      lut: Seq[Seq[Long]]): Seq[Seq[Int]] = {
    val k = codeIds.length
    lut.map { t =>
      val nSubs = t.length / k
      codeIds.zipWithIndex.map { case (cid, ci) =>
        var s = 0L
        (0 until nSubs).foreach(sub => s += t(sub * k + ci))
        (s, cid)
      }.sortBy(identity).take(2).map(_._2)
    }
  }

  // ---------------------------------------------------------------
  // v11 binary quantization search — 1-bit sign quantization: each
  // 64-dim vector packs into two 32-bit sign words (bit i set iff
  // sx[i] > 0), the compression modern vector stores use for the
  // first-pass scan (32× less memory traffic than the float vector).
  // Search is two-stage: a compressed-domain hamming pass (two
  // XOR+popcount per pair — candidates = top-20 by (hamming,
  // neighbor_id)) then an exact scaled-integer cosine rerank of just
  // those candidates → top-5. Both ranks carry unique-key tiebreaks
  // so the candidate sets and final rows are identical cross-engine.
  //
  // Scale shape: the hamming pass moves only (vec_id, lo, hi) — 24
  // bytes/row regardless of dimension — against a bounded broadcast
  // query set (v01's bound); the wide sx vectors are touched again
  // only for the ≤ queries×20 candidate rows via an equi-join on
  // neighbor_id. At 100 TB the first pass is a pure scan of the
  // packed column (columnar pruning drops the float vectors) and the
  // rerank reads a LIMIT-bounded row set.
  private val V11Candidates = 20
  val v11 = Q(
    "v11_binary_quant_search",
    s"""$normCte,
      |bq AS (SELECT vec_id, sx, n,
      |  CAST(list_sum(list_transform(range(1,33),
      |    i -> CASE WHEN sx[i] > 0 THEN (1::BIGINT << (i-1))
      |         ELSE 0 END)) AS BIGINT) AS lo,
      |  CAST(list_sum(list_transform(range(33,65),
      |    i -> CASE WHEN sx[i] > 0 THEN (1::BIGINT << (i-33))
      |         ELSE 0 END)) AS BIGINT) AS hi
      |  FROM e),
      |q AS (SELECT vec_id AS q_id, sx AS q_sx, n AS q_n,
      |        lo AS q_lo, hi AS q_hi
      |      FROM bq $QuerySetSql),
      |h AS (SELECT q.q_id, bq.vec_id AS neighbor_id,
      |        CAST(bit_count(xor(q.q_lo, bq.lo))
      |           + bit_count(xor(q.q_hi, bq.hi)) AS BIGINT) AS hamming
      |      FROM q JOIN bq ON bq.vec_id <> q.q_id),
      |c AS (SELECT * FROM (SELECT *, ROW_NUMBER() OVER (
      |        PARTITION BY q_id ORDER BY hamming, neighbor_id) AS crnk
      |      FROM h) t WHERE crnk <= $V11Candidates),
      |r AS (SELECT c.q_id, c.neighbor_id, c.hamming,
      |        $dotSql::DOUBLE
      |          / (sqrt(q.q_n::DOUBLE) * sqrt(e.n::DOUBLE)) AS cosine
      |      FROM c JOIN e ON c.neighbor_id = e.vec_id
      |        JOIN q ON c.q_id = q.q_id)
      |SELECT q_id, neighbor_id, rnk, hamming, cosine
      |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
      |        ORDER BY cosine DESC, neighbor_id) AS rnk FROM r) t
      |WHERE rnk <= 5""".stripMargin) { (s, dir) =>
    val emb = eFrame(s, dir)
    // one 32-bit sign word: sum of literal-shift whens (codegen
    // collapses this into straight-line bit math — v03's pattern)
    def word(off: Int): Column = (0 until 32).map { i =>
      when(element_at(col("sx"), off + i + 1) > 0, lit(1L << i))
        .otherwise(0L)
    }.reduce(_ + _)
    val bq = emb.withColumn("lo", word(0)).withColumn("hi", word(32))
    // the 20-row query set feeds TWO broadcasts (packed words for the
    // hamming pass, sx/norm for the rerank) — pinned so the
    // filter+pack+TakeOrdered job runs once, not once per broadcast
    val q = graft.operators.Pin(querySet(bq)
      .select(col("vec_id").as("q_id"), col("sx").as("q_sx"),
        col("n").as("q_n"), col("lo").as("q_lo"), col("hi").as("q_hi")))
    // the packed sign index is a MATERIALIZED artifact (pinned): the
    // hamming pass streams cached 24-byte rows. Without the barrier
    // the non-equi join plans as BroadcastNestedLoopJoin — outside
    // whole-stage codegen — and project-collapsing inlines the
    // scale+pack expression tree into the per-PAIR interpreted eval:
    // measured 6.0 s vs 0.9 s for the pack itself at 200k×20 pairs
    val packed = graft.operators.Pin(bq.select("vec_id", "lo", "hi"))
    // compressed-domain pass: only the packed words cross the wire
    val ham = packed
      .join(broadcast(q.select("q_id", "q_lo", "q_hi")),
        col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("neighbor_id"),
        (bit_count(col("q_lo").bitwiseXOR(col("lo"))) +
          bit_count(col("q_hi").bitwiseXOR(col("hi"))))
          .cast(LongType).as("hamming"))
    val cw = Window.partitionBy("q_id")
      .orderBy(col("hamming"), col("neighbor_id"))
    val cand = ham.withColumn("crnk", row_number().over(cw))
      .filter(col("crnk") <= V11Candidates)
    val rw = Window.partitionBy("q_id")
      .orderBy(col("cosine").desc, col("neighbor_id"))
    // rerank: the corpus STREAMS and the ≤ queries×20 candidate set
    // broadcasts — left to stats the optimizer broadcasts the corpus
    // side (its parquet footprint looks small at test SF), which is
    // exactly backwards at 100 TB. The scale+norm projection sits
    // AFTER the candidate join, so the per-element BigDecimal
    // rounding runs on candidate rows only, not the whole corpus
    Tables.load(s, dir, "embeddings")
      .select(col("vec_id").as("neighbor_id"), col("embedding"))
      .join(broadcast(cand), "neighbor_id")
      .select(col("q_id"), col("neighbor_id"), col("hamming"),
        Fns.scaleVec(col("embedding")).as("sx"))
      .withColumn("n", VectorExprs.normSqIntNative(col("sx")))
      .join(broadcast(q.select("q_id", "q_sx", "q_n")), "q_id")
      .withColumn("cosine", Fns.cosineFromScaled(
        VectorExprs.dotIntNative(col("q_sx"), col("sx")),
        col("q_n"), col("n")))
      .withColumn("rnk", row_number().over(rw))
      .filter(col("rnk") <= 5)
      .select("q_id", "neighbor_id", "rnk", "hamming", "cosine")
  }

  // ---------------------------------------------------------------
  // v12 truncated-dimension recall report — the adaptive-retrieval
  // question (Matryoshka-style): how much of exact top-5 survives if
  // ranking uses only the first 16 / 32 of 64 dims? Truth is v01's
  // OWN plan (pinned, v06's contract); the approx side ranks by
  // prefix cosine over the scaled-integer slices — same bounded query
  // set, same unique-key tiebreaks. The report tells you whether a
  // prefix-dim first pass (4×/2× less scan traffic) can front a
  // full-dim rerank on this corpus.
  //
  // Scale shape: two brute-force passes against the bounded broadcast
  // query set (v01's bound) over sliced 8·W-byte rows — columnar
  // pruning cannot skip array suffixes, but the compute and shuffle
  // rows shrink with W; the hit join and report spine are
  // queries×5-bounded.
  private val V12Widths = Seq(16, 32)
  val v12 = Q(
    "v12_trunc_recall",
    s"""$normCte,
      |q AS (SELECT vec_id AS q_id, sx AS q_sx, n AS q_n
      |      FROM e $QuerySetSql),
      |truth AS (SELECT q_id, neighbor_id FROM (
      |    SELECT q.q_id, e.vec_id AS neighbor_id,
      |      ROW_NUMBER() OVER (PARTITION BY q.q_id ORDER BY
      |        $dotSql::DOUBLE / (sqrt(q.q_n::DOUBLE) * sqrt(e.n::DOUBLE))
      |          DESC, e.vec_id) AS rnk
      |    FROM q JOIN e ON e.vec_id <> q.q_id) t
      |  WHERE rnk <= 5),
      |${V12Widths.map(w =>
        s"""a$w AS (SELECT q_id, neighbor_id, $w AS trunc_dims FROM (
          |    SELECT q.q_id, e.vec_id AS neighbor_id,
          |      ROW_NUMBER() OVER (PARTITION BY q.q_id ORDER BY
          |        CAST(list_sum(list_transform(
          |            list_zip(q.q_sx[1:$w], e.sx[1:$w]),
          |            x -> x[1]*x[2])) AS BIGINT)::DOUBLE
          |          / (sqrt(CAST(list_sum(list_transform(q.q_sx[1:$w],
          |               x -> x*x)) AS BIGINT)::DOUBLE)
          |           * sqrt(CAST(list_sum(list_transform(e.sx[1:$w],
          |               x -> x*x)) AS BIGINT)::DOUBLE))
          |          DESC, e.vec_id) AS rnk
          |    FROM q JOIN e ON e.vec_id <> q.q_id) t
          |  WHERE rnk <= 5)""".stripMargin).mkString(",\n")},
      |ar AS (${V12Widths.map(w => s"SELECT * FROM a$w")
        .mkString(" UNION ALL ")}),
      |hits AS (SELECT ar.q_id, ar.trunc_dims,
      |      CAST(COUNT(*) AS BIGINT) AS c
      |    FROM truth JOIN ar ON truth.q_id = ar.q_id
      |      AND truth.neighbor_id = ar.neighbor_id
      |    GROUP BY ar.q_id, ar.trunc_dims),
      |spine AS (SELECT q_id, CAST(unnest([${V12Widths.mkString(",")}])
      |      AS INTEGER) AS trunc_dims FROM q)
      |SELECT spine.q_id, spine.trunc_dims,
      |  CAST(COALESCE(hits.c, 0) AS BIGINT) AS n_hits,
      |  COALESCE(hits.c, 0)::DOUBLE / 5.0 AS recall_at_5
      |FROM spine LEFT JOIN hits ON spine.q_id = hits.q_id
      |  AND spine.trunc_dims = hits.trunc_dims""".stripMargin) {
    (s, dir) =>
      val truth = graft.operators.Pin(
        v01.run(s, dir).select("q_id", "neighbor_id"))
      val e = eFrame(s, dir)
      val q = graft.operators.Pin(querySet(e)
        .select(col("vec_id").as("q_id"), col("sx").as("q_sx")))
      def approx(w: Int): DataFrame = {
        val tx = slice(col("sx"), 1, w)
        val qx = slice(col("q_sx"), 1, w)
        val rw = Window.partitionBy("q_id")
          .orderBy(col("cosine").desc, col("neighbor_id"))
        e.join(broadcast(q), col("vec_id") =!= col("q_id"))
          .select(col("q_id"), col("vec_id").as("neighbor_id"),
            Fns.cosineFromScaled(
              VectorExprs.dotIntNative(qx, tx),
              VectorExprs.normSqIntNative(qx),
              VectorExprs.normSqIntNative(tx)).as("cosine"))
          .withColumn("rnk", row_number().over(rw))
          .filter(col("rnk") <= 5)
          .select(col("q_id"), col("neighbor_id"),
            lit(w).as("trunc_dims"))
      }
      val ar = V12Widths.map(approx).reduce(_.union(_))
      val hits = truth.join(ar, Seq("q_id", "neighbor_id"))
        .groupBy("q_id", "trunc_dims").agg(count(lit(1)).as("c"))
      val spine = q.select(col("q_id"),
        explode(typedlit(V12Widths)).as("trunc_dims"))
      spine.join(hits, Seq("q_id", "trunc_dims"), "left")
        .select(col("q_id"), col("trunc_dims"),
          coalesce(col("c"), lit(0L)).as("n_hits"),
          (coalesce(col("c"), lit(0L)).cast(DoubleType) / lit(5.0))
            .as("recall_at_5"))
  }

  // ---------------------------------------------------------------
  // v13 hybrid retrieval via Reciprocal Rank Fusion (Cormack/Clarke/
  // Buettcher 2009) — the standard two-tower merge every RAG/curation
  // stack runs: a lexical "more-like-this" ranking (idf-weighted
  // distinct-token overlap against the query document's own tokens)
  // fused with v01's exact cosine ranking over the SAME bounded query
  // set (doc_id ≡ vec_id in the corpus), score = Σ 1/(60 + rank) over
  // the lists where the candidate appears, top-10 per query. Ranks
  // are integers with unique-key tiebreaks, so the only float math is
  // the two fixed-order 1/(60+r) divisions — bit-identical
  // cross-engine.
  //
  // Scale shape: the semantic side is v01's broadcast-bounded
  // brute-force pass. The lexical side never does vocab-×-corpus
  // work: the pinned DISTINCT postings relation feeds (a) the df
  // model and (b) the query-token slice, stop-tokens are dropped at
  // df·10 > N (the posting-list cap that bounds the hub-token join —
  // d02's DfCap logic in retrieval form), and the ≤|q-docs|·|tokens|
  // idf-weighted query-token set BROADCASTS into one corpus-postings
  // equi-join. Fusion joins two rank lists capped at 50/query — the
  // whole tail of the pipeline is queries×100-bounded.
  private val RrfK = 60
  private val RrfPool = 50
  val v13 = Q(
    "v13_hybrid_rrf",
    s"""$normCte,
      |q AS (SELECT vec_id AS q_id, sx AS q_sx, n AS q_n
      |      FROM e $QuerySetSql),
      |sem AS (SELECT q_id, neighbor_id AS doc_id, rnk AS sem_rank
      |  FROM (SELECT q.q_id, e.vec_id AS neighbor_id,
      |      ROW_NUMBER() OVER (PARTITION BY q.q_id ORDER BY
      |        $dotSql::DOUBLE / (sqrt(q.q_n::DOUBLE) * sqrt(e.n::DOUBLE))
      |          DESC, e.vec_id) AS rnk
      |    FROM q JOIN e ON e.vec_id <> q.q_id) t
      |  WHERE rnk <= $RrfPool),
      |post AS (SELECT DISTINCT doc_id,
      |    unnest(string_split(text, ' ')) AS token FROM documents),
      |st AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
      |df AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS df FROM post
      |       GROUP BY token),
      |qtok AS (SELECT p.doc_id AS q_id, p.token,
      |    CAST(length(bin(st.n_docs)) - length(bin(df.df)) AS BIGINT)
      |      AS idf_bits
      |  FROM post p JOIN q ON p.doc_id = q.q_id
      |    JOIN df ON p.token = df.token CROSS JOIN st
      |  WHERE df.df * 10 <= st.n_docs),
      |lexs AS (SELECT qtok.q_id, c.doc_id,
      |    CAST(SUM(qtok.idf_bits) AS BIGINT) AS lex
      |  FROM qtok JOIN post c ON c.token = qtok.token
      |    AND c.doc_id <> qtok.q_id
      |  GROUP BY qtok.q_id, c.doc_id),
      |lex AS (SELECT q_id, doc_id, rnk AS lex_rank
      |  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
      |      ORDER BY lex DESC, doc_id) AS rnk FROM lexs) t
      |  WHERE rnk <= $RrfPool),
      |fused AS (SELECT COALESCE(lex.q_id, sem.q_id) AS q_id,
      |    COALESCE(lex.doc_id, sem.doc_id) AS doc_id,
      |    lex.lex_rank, sem.sem_rank,
      |    COALESCE(1::DOUBLE / ($RrfK + lex.lex_rank), 0::DOUBLE)
      |      + COALESCE(1::DOUBLE / ($RrfK + sem.sem_rank), 0::DOUBLE)
      |      AS rrf_score
      |  FROM lex FULL JOIN sem ON lex.q_id = sem.q_id
      |    AND lex.doc_id = sem.doc_id)
      |SELECT q_id, doc_id, rrf_rank, rrf_score, lex_rank, sem_rank
      |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
      |    ORDER BY rrf_score DESC, doc_id) AS rrf_rank FROM fused) t
      |WHERE rrf_rank <= 10""".stripMargin) { (s, dir) =>
    val e = eFrame(s, dir)
    val q = querySet(e)
      .select(col("vec_id").as("q_id"), col("sx").as("q_sx"),
        col("n").as("q_n"))
    val semW = Window.partitionBy("q_id")
      .orderBy(col("cosine").desc, col("doc_id"))
    val sem = e.join(broadcast(q), col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("doc_id"),
        Fns.cosineFromScaled(
          VectorExprs.dotIntNative(col("q_sx"), col("sx")),
          col("q_n"), col("n")).as("cosine"))
      .withColumn("sem_rank", row_number().over(semW))
      .filter(col("sem_rank") <= RrfPool)
      .select("q_id", "doc_id", "sem_rank")
    val d = Tables.load(s, dir, "documents")
    // pinned: feeds the df model, the query-token slice, and the
    // candidate join — the corpus tokenizes exactly once
    val post = graft.operators.Pin(
      d.select(col("doc_id"), explode(Fns.tokens(col("text")))
        .as("token")).distinct())
    val st = d.agg(count(lit(1)).as("n_docs"))
    val df = post.groupBy("token").agg(count(lit(1)).as("df"))
    // query-token idf set: ≤ |q-docs|·|doc tokens| rows — broadcasts
    val qtok = post
      .join(broadcast(q.select(col("q_id"))),
        col("doc_id") === col("q_id"))
      .select(col("q_id"), col("token"))
      .join(df, "token").crossJoin(broadcast(st))
      .filter(col("df") * 10 <= col("n_docs"))
      .select(col("q_id"), col("token"),
        (length(bin(col("n_docs"))) - length(bin(col("df"))))
          .cast(LongType).as("idf_bits"))
    val lexW = Window.partitionBy("q_id")
      .orderBy(col("lex").desc, col("doc_id"))
    val lex = post.join(broadcast(qtok), "token")
      .filter(col("doc_id") =!= col("q_id"))
      .groupBy("q_id", "doc_id").agg(sum("idf_bits").as("lex"))
      .withColumn("lex_rank", row_number().over(lexW))
      .filter(col("lex_rank") <= RrfPool)
      .select("q_id", "doc_id", "lex_rank")
    val rrfW = Window.partitionBy("q_id")
      .orderBy(col("rrf_score").desc, col("doc_id"))
    lex.join(sem, Seq("q_id", "doc_id"), "full_outer")
      .withColumn("rrf_score",
        coalesce(lit(1.0) / (lit(RrfK) + col("lex_rank")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(RrfK) + col("sem_rank")), lit(0.0)))
      .withColumn("rrf_rank", row_number().over(rrfW))
      .filter(col("rrf_rank") <= 10)
      .select("q_id", "doc_id", "rrf_rank", "rrf_score",
        "lex_rank", "sem_rank")
  }

  // ---------------------------------------------------------------
  // d14 SemDeDup-style semantic dedup (Abbas et al. 2023,
  // arXiv:2303.09540) — the embedding-space dedup tier the d-family
  // was missing: d06/d13 REPORT near-dup pairs via orthant-LSH
  // blocking; this one makes the per-item KEEP/DROP decision with
  // k-means-cell blocking, the paper's scheme. Every vector is
  // assigned to its nearest per-label centroid (v07's exact
  // rounded-term argmin — ONE centroid definition across the vector
  // tier), then a vector is dropped iff a lower-id ε-neighbor
  // (cosine ≥ 0.4) exists in its cell; the minimum id of each
  // ε-connected chain has no lower neighbor, so exactly the chain
  // minima survive — d07's min-id canonical rule without paying the
  // transitive closure (the paper's greedy epsilon-dedup, made
  // order-deterministic). dup_of = the smallest such neighbor (the
  // audit pointer), NULL for kept rows.
  //
  // Scale shape (the round-7 "fixed-k cliff", closed): the paper's
  // own answer is k ∝ N (Abbas et al. §3 — 11k clusters for 1.3B
  // docs, holding cell size ~constant), so the blocking cells are no
  // longer the 10 data labels but [[D14TargetCell]]-sized seed-
  // Voronoi cells: k = ⌈N/128⌉ deterministic seeds (the k smallest
  // vec_ids — i.i.d. draws from the corpus mixture), every vector
  // assigned to its nearest seed. ONE definition of k and of the
  // exact rounded-term distance flows into Spark and the oracle (the
  // auto-df-cap contract, TextDedup.scala), so hash-match holds at
  // every SF; at N ≤ 128 the single cell degrades to exact brute
  // dedup, strictly better semantics than label blocking. A flat
  // argmin over k ∝ N seeds is N·k·d = O(N²d/128) — itself the new
  // cliff — so assignment is IVF-style TWO-LEVEL: nearest of the √k
  // coarse seeds (native [[graft.functions.CentroidArgmin]] over √k·d
  // literals, zero-shuffle), then nearest member seed of that coarse
  // cell via a cidx equi-join with the exact distance computed
  // in-join ([[graft.functions.L2RoundE12]]) — N·2√k·d flops total.
  // Driver state is ONLY the √k coarse centroids (round 9; the
  // previous design collected all k seeds — O(N/128·d) driver memory,
  // ~4 GB at 1B vectors); the k-seed table stays a distributed
  // relation, broadcast by AQE at small SF and shuffled by cell at
  // scale. Past ~10¹⁴ vectors (√k·d literals outgrowing a task
  // binary) assignment itself becomes an ANN problem — the engine's
  // own v02 IVF tier over the seed table is the documented handoff.
  // Candidate
  // pairs exist ONLY inside a cell equi-join with the cosine computed
  // in-join (d06's shape); Σ cell² ≈ N·128, linear by construction.
  // The decision agg is one groupBy on the dropped side only.
  private val D14Tau = 0.4
  private val D14TargetCell = 128

  /** The k1 coarse seeds (smallest vec_ids, ascending) — the ONLY
    * embedding rows d14 collects. O(√k·d) driver memory by
    * construction; spec-pinned (VERDICT r8 ask #3). Element type
    * normalized to double at the driver boundary — exact float→double
    * widening, the same values the native argmin reads per row. */
  private[graft] def d14Coarse(nemb: org.apache.spark.sql.DataFrame,
      k1: Int): Array[(Long, Array[Double])] =
    nemb.orderBy("vec_id").limit(k1)
      .select(col("vec_id"),
        col("embedding").cast(ArrayType(DoubleType)).as("e"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))

  val d14 = Q(
    "d14_semantic_dedup",
    s"""WITH nemb AS (SELECT vec_id, embedding FROM embeddings
      |  WHERE len(embedding) > 0),
      |par AS (SELECT
      |    CAST(CEIL(COUNT(*)::DOUBLE / $D14TargetCell) AS BIGINT) AS k,
      |    CAST(CEIL(SQRT(CEIL(COUNT(*)::DOUBLE / $D14TargetCell)))
      |      AS BIGINT) AS k1
      |  FROM nemb),
      |sd AS (SELECT vec_id AS sid, embedding AS semb, rn
      |  FROM (SELECT vec_id, embedding,
      |      ROW_NUMBER() OVER (ORDER BY vec_id) AS rn FROM nemb) t
      |  WHERE rn <= (SELECT k FROM par)),
      |sx AS (SELECT sid, rn, generate_subscripts(semb, 1) AS pos,
      |    unnest(semb) AS x FROM sd),
      |cx AS (SELECT sid AS cid, pos, x FROM sx
      |  WHERE rn <= (SELECT k1 FROM par)),
      |sdist AS (SELECT sx.sid, cx.cid,
      |    CAST(SUM(round((sx.x::DOUBLE - cx.x::DOUBLE)
      |      *(sx.x::DOUBLE - cx.x::DOUBLE)*1e12)::BIGINT) AS BIGINT) AS ds
      |  FROM sx JOIN cx ON sx.pos = cx.pos GROUP BY sx.sid, cx.cid),
      |sa AS (SELECT sid, cid FROM (SELECT *, ROW_NUMBER() OVER (
      |      PARTITION BY sid ORDER BY ds, cid) AS r FROM sdist) t
      |  WHERE r = 1),
      |ex AS (SELECT vec_id, generate_subscripts(embedding, 1) AS pos,
      |    unnest(embedding) AS x FROM nemb),
      |vd1 AS (SELECT ex.vec_id, cx.cid,
      |    CAST(SUM(round((ex.x::DOUBLE - cx.x::DOUBLE)
      |      *(ex.x::DOUBLE - cx.x::DOUBLE)*1e12)::BIGINT) AS BIGINT) AS ds
      |  FROM ex JOIN cx ON ex.pos = cx.pos GROUP BY ex.vec_id, cx.cid),
      |va1 AS (SELECT vec_id, cid FROM (SELECT *, ROW_NUMBER() OVER (
      |      PARTITION BY vec_id ORDER BY ds, cid) AS r FROM vd1) t
      |  WHERE r = 1),
      |vd2 AS (SELECT ex.vec_id, sx.sid,
      |    CAST(SUM(round((ex.x::DOUBLE - sx.x::DOUBLE)
      |      *(ex.x::DOUBLE - sx.x::DOUBLE)*1e12)::BIGINT) AS BIGINT) AS ds
      |  FROM ex JOIN va1 ON ex.vec_id = va1.vec_id
      |    JOIN sa ON sa.cid = va1.cid
      |    JOIN sx ON sx.sid = sa.sid AND sx.pos = ex.pos
      |  GROUP BY ex.vec_id, sx.sid),
      |a AS (SELECT vec_id, sid AS cell FROM (SELECT *, ROW_NUMBER() OVER (
      |      PARTITION BY vec_id ORDER BY ds, sid) AS r FROM vd2) t
      |  WHERE r = 1),
      |n AS (SELECT vec_id,
      |    list_transform(embedding, x -> round(x::DOUBLE*1e6)::BIGINT) AS sx,
      |    CAST(list_sum(list_transform(
      |      list_transform(embedding, x -> round(x::DOUBLE*1e6)::BIGINT),
      |      x -> x*x)) AS BIGINT) AS nn
      |  FROM embeddings),
      |m AS (SELECT a.vec_id, a.cell, n.sx, n.nn
      |      FROM a JOIN n ON a.vec_id = n.vec_id),
      |p AS (SELECT b.vec_id, MIN(u.vec_id) AS dup_of
      |  FROM m u JOIN m b ON u.cell = b.cell AND u.vec_id < b.vec_id
      |  WHERE CAST(list_sum(list_transform(list_zip(u.sx, b.sx),
      |      x -> x[1]*x[2])) AS BIGINT)::DOUBLE
      |    / (sqrt(u.nn::DOUBLE) * sqrt(b.nn::DOUBLE)) >= $D14Tau
      |  GROUP BY b.vec_id)
      |SELECT m.vec_id, m.cell, p.dup_of, p.dup_of IS NULL AS kept
      |FROM m LEFT JOIN p ON m.vec_id = p.vec_id""".stripMargin) {
    (s, dir) =>
      val emb = Tables.load(s, dir, "embeddings")
      // NULL and EMPTY embeddings both drop (the oracle's unnest emits
      // no rows for either, so they never reach the `a` assignment or
      // the output), via one size predicate on the INPUT column (v07's
      // lesson: a filter on `cell` re-runs the native argmin per row).
      val nemb = emb.filter(size(col("embedding")) > 0)
      // auto-k sync points, ALL O(√k·d) or scalar (VERDICT r8 ask #3 —
      // the previous k-seed collect was O(N/128·d) ≈ 4 GB of driver
      // memory at 1B vectors): one pruned count, the k-th smallest
      // vec_id (TakeOrdered over 8-byte ids — seed EMBEDDINGS never
      // reach the driver), and the k1 = ⌈√k⌉ coarse seed rows.
      val nVec = nemb.count()
      if (nVec == 0L) {
        emb.select(col("vec_id"), col("vec_id").as("cell"),
          col("vec_id").as("dup_of"), lit(true).as("kept")).limit(0)
      } else {
        val k = ((nVec + D14TargetCell - 1) / D14TargetCell).toInt
        val k1 = math.ceil(math.sqrt(k.toDouble)).toInt
        val coarse = d14Coarse(nemb, k1)
        val coarseCens = coarse.map(_._2.toSeq).toSeq
        val thr = nemb.select(col("vec_id")).orderBy("vec_id").limit(k)
          .agg(max("vec_id")).head.getLong(0)
        // distributed seed relation + its coarse assignment (the
        // oracle's sd/sa CTEs, no longer a driver replay): argmin over
        // the k1 coarse LITERALS. Position index is the cell id —
        // coarse is sorted by vec_id, so the argmin's ties-to-smallest-
        // position IS the oracle's ORDER BY ds, cid.
        val sa = nemb.filter(col("vec_id") <= thr)
          .select(col("vec_id").as("sid"), col("embedding").as("semb"))
          .withColumn("cidx", VectorExprs.centroidArgmin(col("semb"),
            coarse.indices, coarseCens))
        // vector → coarse: the same native zero-shuffle argmin pass;
        // → member seed: exact distance computed INSIDE the cidx join
        // (L2RoundE12), argmin as min(struct(ds, sid)) ≡ the oracle's
        // ORDER BY ds, sid, with map-side partial min collapsing each
        // vector to one row before the vec_id exchange. sx/nn ride
        // along (functionally dependent on vec_id; first() reads the
        // one value). The seed side is corpus/128 — AQE broadcasts it
        // at small SF; at scale it shuffles by cidx, the price of not
        // holding N/128 embeddings in the task binary or the driver.
        // A coarse cell is "empty" ONLY when its seed has a
        // coordinate-identical twin with a smaller id — then every
        // vector ties toward the twin in both engines, so the inner
        // cidx join never drops a vector (the oracle's vd2 is the
        // same inner join).
        val va1 = nemb
          .select(col("vec_id"), col("embedding"),
            Fns.scaleVec(col("embedding")).as("sx"))
          .withColumn("nn", VectorExprs.normSqIntNative(col("sx")))
          .withColumn("cidx", VectorExprs.centroidArgmin(col("embedding"),
            coarse.indices, coarseCens))
        // pinned: both self-join sides and the final left join read
        // it — assignment + scale + norm run once per vector. The pin
        // is MATERIALIZED eagerly (one count over the cache build):
        // AQE launches all three consumer subtrees concurrently, and
        // with a lazy pin each raced to compute the argmin pass before
        // any could populate the cache — measured 3×35 s of identical
        // concurrent stages at the 100× corpus vs one 12 s build.
        val m = graft.operators.Pin(va1.join(sa, "cidx")
          .select(col("vec_id"), col("sx"), col("nn"),
            struct(
              VectorExprs.l2RoundE12(col("embedding"), col("semb"))
                .as("ds"),
              col("sid")).as("dsid"))
          .groupBy("vec_id")
          .agg(min(col("dsid")).getField("sid").as("cell"),
            first(col("sx")).as("sx"), first(col("nn")).as("nn")))
        m.count()
        val cos = Fns.cosineFromScaled(
          VectorExprs.dotIntNative(col("sx_u"), col("sx_b")),
          col("nn_u"), col("nn_b"))
        val p = m.select(col("vec_id").as("u_id"), col("cell"),
            col("sx").as("sx_u"), col("nn").as("nn_u"))
          .join(m.select(col("vec_id").as("b_id"), col("cell"),
            col("sx").as("sx_b"), col("nn").as("nn_b")), Seq("cell"))
          .filter(col("u_id") < col("b_id") && cos >= D14Tau)
          .groupBy("b_id").agg(min("u_id").as("dup_of"))
        m.join(p, col("vec_id") === col("b_id"), "left")
          .select(col("vec_id"), col("cell"), col("dup_of"),
            col("dup_of").isNull.as("kept"))
      }
  }

  // ---------------------------------------------------------------
  // v14 retrieval-metrics report — the ranking-quality scoreboard a
  // retrieval stack actually publishes (v06's recall@5 one level up):
  // MRR and NDCG of the lossy tiers (v03 LSH ANN, v13 hybrid RRF)
  // against v01's exact top-5 truth, per (method, query). Both
  // metrics stay EXACT-integer until the final division: reciprocal
  // rank is S // first_hit_rank on 1e12-scaled S, and the DCG
  // discount is the inventory's integer floor-log2 bits —
  // gain(rank) = S // bits(rank+1) — summed as BIGINTs (the
  // float-log2 discount would hang NDCG on cross-engine summation
  // order; the bits discount is the same retrieval-order-sensitive
  // shape, deterministic). IDCG comes from each query's OWN truth
  // size, so short truth lists (tiny corpora) normalize correctly.
  //
  // Single-sourced like d09/s11: Spark composes the three operators'
  // own run() plans; the oracle embeds their oracle SQL as
  // parenthesized subqueries (nested WITH — no CTE-name collisions),
  // so the report can never drift from what the methods compute.
  // Scale shape: every relation past the method plans is
  // queries×k-bounded; the joins are (q_id, neighbor_id) equi-joins
  // on those bounded lists. v03 evaluates every %50 query id
  // (unbounded with the corpus) — the truth spine restricts the
  // report to v01's bounded query set.
  val v14 = Q(
    "v14_retrieval_metrics",
    s"""WITH truth AS (SELECT q_id, neighbor_id, rnk
      |    FROM (${v01.oracle.get}) z),
      |m3 AS (SELECT 'v03_lsh' AS method, q_id, neighbor_id, rnk
      |    FROM (${v03.oracle.get}) z),
      |m13 AS (SELECT 'v13_rrf' AS method, q_id,
      |      doc_id AS neighbor_id, rrf_rank AS rnk
      |    FROM (${v13.oracle.get}) z),
      |m AS (SELECT * FROM m3 UNION ALL SELECT * FROM m13),
      |hits AS (SELECT m.method, m.q_id, m.rnk
      |  FROM m JOIN truth t ON m.q_id = t.q_id
      |    AND m.neighbor_id = t.neighbor_id),
      |per AS (SELECT method, q_id,
      |    CAST(COUNT(*) AS BIGINT) AS n_hits,
      |    CAST(MIN(rnk) AS BIGINT) AS first_hit_rank,
      |    CAST(SUM(1000000000000 //
      |      CAST(length(bin(rnk + 1)) AS BIGINT)) AS BIGINT) AS dcg
      |  FROM hits GROUP BY method, q_id),
      |tn AS (SELECT q_id, CAST(COUNT(*) AS BIGINT) AS c FROM truth
      |       GROUP BY q_id),
      |idcg AS (SELECT q_id,
      |    CAST(SUM(1000000000000 //
      |      CAST(length(bin(i + 1)) AS BIGINT)) AS BIGINT) AS idcg
      |  FROM (SELECT q_id, unnest(range(1, c + 1)) AS i FROM tn)
      |  GROUP BY q_id),
      |spine AS (SELECT mm.method, tn.q_id FROM tn CROSS JOIN
      |  (SELECT unnest(['v03_lsh', 'v13_rrf']) AS method) mm)
      |SELECT spine.method, spine.q_id,
      |  CAST(COALESCE(per.n_hits, 0) AS BIGINT) AS n_hits,
      |  per.first_hit_rank,
      |  CAST(COALESCE(1000000000000 // per.first_hit_rank, 0)
      |    AS BIGINT) AS mrr_scaled,
      |  CAST(COALESCE(per.dcg, 0) AS BIGINT) AS dcg_scaled,
      |  idcg.idcg AS idcg_scaled,
      |  COALESCE(per.dcg, 0)::DOUBLE / idcg.idcg::DOUBLE AS ndcg
      |FROM spine LEFT JOIN per ON spine.method = per.method
      |    AND spine.q_id = per.q_id
      |  JOIN idcg ON spine.q_id = idcg.q_id""".stripMargin) { (s, dir) =>
    import s.implicits._
    // S // d via floor(double): divisors here are ≤ 11, where the
    // double quotient's error (≤ ulp(1e12/2) ≈ 3e-5) can never cross
    // an integer boundary — exact-divisor cases are exactly
    // representable — so floor equals the oracle's BIGINT `//`.
    def floorDiv(d: org.apache.spark.sql.Column) =
      floor(lit(1e12) / d.cast(DoubleType)).cast(LongType)
    def bitsDiv(rnk: org.apache.spark.sql.Column) =
      floorDiv(length(bin(rnk.cast(LongType) + 1)))
    val truth = graft.operators.Pin(
      v01.run(s, dir).select("q_id", "neighbor_id", "rnk"))
    val m = v03.run(s, dir)
      .select(lit("v03_lsh").as("method"), col("q_id"),
        col("neighbor_id"), col("rnk"))
      .union(v13.run(s, dir)
        .select(lit("v13_rrf").as("method"), col("q_id"),
          col("doc_id").as("neighbor_id"), col("rrf_rank").as("rnk")))
    val per = m
      .join(truth.select("q_id", "neighbor_id"), Seq("q_id", "neighbor_id"))
      .groupBy("method", "q_id")
      .agg(count(lit(1)).as("n_hits"),
        min(col("rnk").cast(LongType)).as("first_hit_rank"),
        sum(bitsDiv(col("rnk"))).as("dcg"))
    val tn = truth.groupBy("q_id").agg(count(lit(1)).as("c"))
    val idcg = tn
      .select(col("q_id"),
        explode(sequence(lit(1L), col("c"))).as("i"))
      .select(col("q_id"), bitsDiv(col("i")).as("term"))
      .groupBy("q_id").agg(sum("term").as("idcg_scaled"))
    val spine = tn.select("q_id")
      .crossJoin(Seq("v03_lsh", "v13_rrf").toDF("method"))
    spine.join(per, Seq("method", "q_id"), "left")
      .join(idcg, "q_id")
      .select(col("method"), col("q_id"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        col("first_hit_rank"),
        coalesce(floorDiv(col("first_hit_rank")), lit(0L))
          .as("mrr_scaled"),
        coalesce(col("dcg"), lit(0L)).as("dcg_scaled"),
        col("idcg_scaled"),
        (coalesce(col("dcg"), lit(0L)).cast(DoubleType) /
          col("idcg_scaled").cast(DoubleType)).as("ndcg"))
  }

  // ---------------------------------------------------------------
  // v15 MMR diversified re-rank (Carbonell & Goldstein 1998) — the
  // result-diversification pass retrieval stacks run after top-k:
  // from each query's [[MmrPool]]-candidate cosine pool, greedily
  // select [[MmrK]] results maximizing
  //   0.5·rel(c) − 0.5·max_{s∈selected} sim(c, s)
  // (λ = 0.5), so near-duplicate hits that saturate a plain top-5
  // (the corpus has ~2% perturbed-copy vectors by construction) are
  // traded for coverage. Greedy selection is inherently sequential in
  // k over a [[V01Queries]]×[[MmrPool]]-BOUNDED relation, so the
  // selection runs in the driver over the collected pool (the
  // v07-centroid / v08-codebook bounded-sync-point pattern): one
  // distributed job builds the pool, ~100 rows come back, the k·pool²
  // greedy folds locally. The first cut ran the greedy as unrolled
  // dataframe steps — semantically identical, but 4 steps × (anti-join
  // + agg + window) on ≤400-row relations cost ~5 s of pure job
  // scheduling at EVERY scale (measured flat 1×→100×); paying
  // distributed-plan overhead to move <100 KB is the wrong side of
  // that trade.
  //
  // Exactness: rel and sim are the inventory's scaled-integer-dot
  // cosines; the driver replays the identical arithmetic (BIGINT dot,
  // /sqrt·sqrt in IEEE double, 0.5·rel − 0.5·ms, cand_id tiebreak) —
  // bit-identical to the oracle's unrolled-CTE formulation.
  //
  // Scale shape: the only corpus-grain work is the pool scan (v01's
  // broadcast-query brute-force pass — swap in v03's bucket join for
  // unbounded query sets); the collect is queries×pool-bounded by
  // construction, never corpus-bounded.
  private val MmrPool = 20
  private val MmrK = 5
  private val mmrPairSim =
    """CAST(list_sum(list_transform(list_zip(po.sx, sl.sx),
      |        z -> z[1]*z[2])) AS BIGINT)::DOUBLE /
      |        (sqrt(po.n::DOUBLE) * sqrt(sl.n::DOUBLE))""".stripMargin
  val v15 = Q(
    "v15_mmr_diversify",
    s"""$normCte,
      |q AS (SELECT vec_id AS q_id, sx AS q_sx, n AS q_n
      |      FROM e $QuerySetSql),
      |pool AS (SELECT * FROM (SELECT *, ROW_NUMBER() OVER (
      |      PARTITION BY q_id ORDER BY rel DESC, cand_id) AS rnk
      |    FROM (SELECT q.q_id, e.vec_id AS cand_id, e.sx, e.n,
      |        $dotSql::DOUBLE /
      |          (sqrt(q.q_n::DOUBLE) * sqrt(e.n::DOUBLE)) AS rel
      |      FROM q JOIN e ON e.vec_id <> q.q_id) p) t
      |  WHERE rnk <= $MmrPool),
      |s1 AS (SELECT q_id, cand_id, rel, CAST(NULL AS DOUBLE) AS ms,
      |    CAST(1 AS BIGINT) AS sel_rank FROM pool WHERE rnk = 1),
      |${(2 to MmrK).map(i =>
        s"""p$i AS (SELECT po.q_id, po.cand_id, po.rel,
          |    MAX($mmrPairSim) AS ms
          |  FROM pool po JOIN pool sl ON sl.q_id = po.q_id
          |    JOIN s${i - 1} sp ON sp.q_id = sl.q_id
          |      AND sp.cand_id = sl.cand_id
          |  WHERE NOT EXISTS (SELECT 1 FROM s${i - 1} z
          |    WHERE z.q_id = po.q_id AND z.cand_id = po.cand_id)
          |  GROUP BY po.q_id, po.cand_id, po.rel),
          |s$i AS (SELECT * FROM s${i - 1} UNION ALL
          |  SELECT q_id, cand_id, rel, ms, CAST($i AS BIGINT)
          |  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
          |      ORDER BY 0.5*rel - 0.5*ms DESC, cand_id) AS rn
          |    FROM p$i) t
          |  WHERE rn = 1)""".stripMargin).mkString(",\n")}
      |SELECT q_id, sel_rank, cand_id AS neighbor_id, rel AS relevance,
      |  ms AS max_sim_prior
      |FROM s$MmrK""".stripMargin) { (s, dir) =>
    val e = eFrame(s, dir)
    val q = querySet(e)
      .select(col("vec_id").as("q_id"), col("sx").as("q_sx"),
        col("n").as("q_n"))
    val poolW = Window.partitionBy("q_id")
      .orderBy(col("rel").desc, col("cand_id"))
    val pool = e.join(broadcast(q), col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("cand_id"), col("sx"),
        col("n"),
        Fns.cosineFromScaled(
          VectorExprs.dotIntNative(col("q_sx"), col("sx")),
          col("q_n"), col("n")).as("rel"))
      .withColumn("rnk", row_number().over(poolW))
      .filter(col("rnk") <= MmrPool)
      .select("q_id", "cand_id", "sx", "n", "rel")
    // queries×pool-bounded collect (≤ V01Queries·MmrPool rows by
    // construction — the pool rank window already capped it)
    val cands = pool.collect().map { r =>
      (r.getLong(0), r.getLong(1), r.getSeq[Long](2).toArray,
        r.getLong(3), r.getDouble(4))
    }
    def cos(ax: Array[Long], an: Long, bx: Array[Long],
        bn: Long): Double = {
      var dot = 0L
      var i = 0
      while (i < ax.length) { dot += ax(i) * bx(i); i += 1 }
      dot.toDouble / (math.sqrt(an.toDouble) * math.sqrt(bn.toDouble))
    }
    val outRows = cands.groupBy(_._1).toSeq.flatMap { case (qid, cs) =>
      val byId = cs.sortBy(_._2)
      val sel = scala.collection.mutable.ArrayBuffer
        .empty[(Long, Double, Option[Double])] // cand, rel, maxSimPrior
      val chosen = scala.collection.mutable.Set.empty[Long]
      (1 to MmrK).foreach { step =>
        var best: Option[(Long, Double, Double, Option[Double])] = None
        byId.foreach { case (_, cid, sx, n, rel) =>
          if (!chosen.contains(cid)) {
            val ms =
              if (step == 1) None
              else Some(sel.map { case (sid, _, _) =>
                val s = byId.find(_._2 == sid).get
                cos(sx, n, s._3, s._4)
              }.max)
            val score =
              if (step == 1) rel else 0.5 * rel - 0.5 * ms.get
            // strict > keeps the smallest cand_id on ties (byId is
            // cand_id-ascending) — the ORDER BY ... DESC, cand_id
            // row_number semantics
            if (best.isEmpty || score > best.get._3)
              best = Some((cid, rel, score, ms))
          }
        }
        best.foreach { case (cid, rel, _, ms) =>
          chosen += cid
          sel += ((cid, rel, ms))
        }
      }
      sel.zipWithIndex.map { case ((cid, rel, ms), idx) =>
        org.apache.spark.sql.Row(qid, (idx + 1).toLong, cid, rel,
          ms.orNull)
      }
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("q_id", LongType,
        nullable = false),
      org.apache.spark.sql.types.StructField("sel_rank", LongType,
        nullable = false),
      org.apache.spark.sql.types.StructField("neighbor_id", LongType,
        nullable = false),
      org.apache.spark.sql.types.StructField("relevance", DoubleType,
        nullable = false),
      org.apache.spark.sql.types.StructField("max_sim_prior",
        DoubleType, nullable = true)))
    s.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](
        scala.jdk.CollectionConverters.SeqHasAsJava(outRows).asJava),
      schema)
  }

  // ---------------------------------------------------------------
  // v16 cell-blocked kNN graph — the neighbor-graph construction that
  // fronts graph-ANN indexes (HNSW/NSG layer-0), SemDeDup-style
  // clustering, and manifold methods: every vector's exact top-3
  // cosine neighbors WITHIN its (label, 8-bit-orthant) cell — d13's
  // high-precision blocking reused verbatim (one definition in
  // TextDedup.orthantSql/orthantCol). Unlike v01's bounded QUERY set,
  // the left side here is the WHOLE corpus, so blocking is mandatory:
  // the self-join key space is labels·256 cells and expected cell
  // population N/(labels·256) — cell width grows with log₂N exactly
  // as d06/d13 document. Vectors alone in their cell emit no rows
  // (isolated graph nodes — the narrow-cell/recall trade the bits
  // knob controls).
  //
  // Exactness: scaled-integer dots, cand_id tiebreak; within-cell
  // top-3 is a rank window per vec_id — both engines select identical
  // neighbor sets.
  private val KnnGraphK = 3
  val v16 = Q(
    "v16_knn_graph",
    s"""$normCte,
      |c AS (SELECT e.vec_id, emb.label, e.sx, e.n,
      |    ${TextDedup.orthantSql(1, 8).replace("sx[", "e.sx[")} AS cell
      |  FROM e JOIN embeddings emb ON e.vec_id = emb.vec_id),
      |p AS (SELECT a.vec_id, b.vec_id AS neighbor_id,
      |    CAST(list_sum(list_transform(list_zip(a.sx, b.sx),
      |      z -> z[1]*z[2])) AS BIGINT)::DOUBLE
      |      / (sqrt(a.n::DOUBLE) * sqrt(b.n::DOUBLE)) AS cosine
      |  FROM c a JOIN c b ON a.label = b.label AND a.cell = b.cell
      |    AND a.vec_id <> b.vec_id)
      |SELECT vec_id, neighbor_id, rnk, cosine
      |FROM (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY vec_id
      |    ORDER BY cosine DESC, neighbor_id) AS BIGINT) AS rnk FROM p) t
      |WHERE rnk <= $KnnGraphK""".stripMargin) { (s, dir) =>
    // fans out both sides of the cell self-join: pin scale+norm+cell
    val c = graft.operators.Pin(Tables.load(s, dir, "embeddings")
      .select(col("vec_id"), col("label"),
        Fns.scaleVec(col("embedding")).as("sx"))
      .withColumn("n", VectorExprs.normSqIntNative(col("sx")))
      .withColumn("cell", TextDedup.orthantCol(1, 8)))
    val w = Window.partitionBy("vec_id")
      .orderBy(col("cosine").desc, col("neighbor_id"))
    c.select(col("vec_id"), col("label"), col("cell"),
        col("sx").as("sx_a"), col("n").as("n_a"))
      .join(c.select(col("vec_id").as("neighbor_id"), col("label"),
        col("cell"), col("sx").as("sx_b"), col("n").as("n_b")),
        Seq("label", "cell"))
      .filter(col("vec_id") =!= col("neighbor_id"))
      .select(col("vec_id"), col("neighbor_id"),
        Fns.cosineFromScaled(
          VectorExprs.dotIntNative(col("sx_a"), col("sx_b")),
          col("n_a"), col("n_b")).as("cosine"))
      .withColumn("rnk", row_number().over(w).cast(LongType))
      .filter(col("rnk") <= KnnGraphK)
  }

  // ---------------------------------------------------------------
  // v17 IVF-PQ search with exact refine (FAISS IndexRefineFlat;
  // Jégou et al. 2011 §VI's re-ranking stage) — the full production
  // retrieval shape: v10's compressed-domain IVFPQ scan proposes a
  // DEEPER candidate pool (top-20 by ADC distance instead of v10's
  // final 5), then the raw vectors of just those candidates are
  // re-scored with the exact scaled-integer cosine and the top-5 is
  // taken on the refined order. ADC quantization error re-ranks the
  // true neighbors inside the pool; the refine step recovers them —
  // the recall knob every deployed IVFPQ index ships with.
  //
  // 100 TB shape: stage 1 is v10's (code words + probed-cell
  // partition pruning, no raw-float traffic); stage 2 touches raw
  // vectors for ≤ queries×20 rows via a BROADCAST candidate join
  // against the corpus (the bounded side is the candidate set, so the
  // corpus never shuffles), and the query spine broadcasts as in v01.
  // Ranks tie-break on neighbor_id in both engines; cosines are exact
  // scaled-BIGINT dot products (bit-identical cross-engine).
  private val V17Candidates = 20
  val v17 = Q(
    "v17_ivfpq_rerank",
    s"""$normCte,
      |$pqCodesCtes,
      |$pqLutCtes,
      |probe AS (SELECT q_id, cell FROM (
      |    SELECT q_id, code AS cell,
      |      ROW_NUMBER() OVER (PARTITION BY q_id
      |        ORDER BY CAST(SUM(ds) AS BIGINT), code) AS rnk
      |    FROM lut GROUP BY q_id, code) t
      |  WHERE rnk <= 2),
      |cand AS (SELECT a.vec_id, e2.label, a.sub, a.code
      |         FROM a JOIN embeddings e2 ON a.vec_id = e2.vec_id),
      |p AS (SELECT l.q_id, c.vec_id AS neighbor_id,
      |    CAST(SUM(l.ds) AS BIGINT) AS adc_scaled
      |  FROM cand c
      |  JOIN probe pr ON pr.cell = c.label AND c.vec_id <> pr.q_id
      |  JOIN lut l ON l.q_id = pr.q_id AND l.sub = c.sub AND l.code = c.code
      |  GROUP BY l.q_id, c.vec_id),
      |pool AS (SELECT q_id, neighbor_id, rnk AS adc_rnk FROM (
      |    SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
      |      ORDER BY adc_scaled, neighbor_id) AS rnk FROM p) z
      |  WHERE rnk <= $V17Candidates),
      |qe AS (SELECT e.vec_id AS q_id, e.sx AS q_sx, e.n AS q_n
      |       FROM e JOIN q ON e.vec_id = q.q_id),
      |r AS (SELECT c.q_id, c.neighbor_id, c.adc_rnk,
      |        $dotSql::DOUBLE / (sqrt(q.q_n::DOUBLE) * sqrt(e.n::DOUBLE))
      |          AS cosine
      |      FROM pool c JOIN qe q ON c.q_id = q.q_id
      |                  JOIN e ON e.vec_id = c.neighbor_id)
      |SELECT q_id, neighbor_id, rnk, adc_rnk, cosine
      |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
      |        ORDER BY cosine DESC, neighbor_id) AS rnk FROM r) t
      |WHERE rnk <= 5""".stripMargin) { (s, dir) =>
    val emb = Tables.load(s, dir, "embeddings")
    collectCodebook(codebookSums(emb)) match {
      case None =>
        emb.select(col("vec_id").as("q_id"),
          col("vec_id").as("neighbor_id"), lit(1).as("rnk"),
          lit(1).as("adc_rnk"), lit(0.0).as("cosine")).limit(0)
      case Some((codeIds, cen)) =>
        val (qIds, lut) = collectAdcLut(emb, codeIds, cen)
        val probe = probeCells(codeIds, lut)
        // stage 1 — v10's compressed-domain scan, pool depth 20: the
        // probed-cell membership filter is the partition-pruning
        // predicate at scale, the window bounds the pool per query
        val wAdc = Window.partitionBy("q_id")
          .orderBy(col("adc_scaled"), col("neighbor_id"))
        val pool = pqAdcRows(emb, codeIds, cen, qIds, lut)
          .filter(array_contains(
            element_at(typedlit(probe), col("qp") + 1), col("label")))
          .withColumn("adc_rnk", row_number().over(wAdc))
          .filter(col("adc_rnk") <= V17Candidates)
          .select("q_id", "neighbor_id", "adc_rnk")
        // stage 2 — exact refine: the ≤ queries×20 pool BROADCASTS
        // against the raw-vector relation (corpus side never
        // shuffles), query spine broadcasts as in v01
        val e = eFrame(s, dir)
        val q = querySet(e)
          .select(col("vec_id").as("q_id"), col("sx").as("q_sx"),
            col("n").as("q_n"))
        val wCos = Window.partitionBy("q_id")
          .orderBy(col("cosine").desc, col("neighbor_id"))
        broadcast(pool)
          .join(e.withColumnRenamed("vec_id", "neighbor_id"),
            "neighbor_id")
          .join(broadcast(q), "q_id")
          .select(col("q_id"), col("neighbor_id"), col("adc_rnk"),
            Fns.cosineFromScaled(
              VectorExprs.dotIntNative(col("q_sx"), col("sx")),
              col("q_n"), col("n")).as("cosine"))
          .withColumn("rnk", row_number().over(wCos))
          .filter(col("rnk") <= 5)
          .select("q_id", "neighbor_id", "rnk", "adc_rnk", "cosine")
    }
  }

  // ---------------------------------------------------------------
  // v18 refine-recall report — v06's methodology applied to the
  // question v17 exists to answer: how much recall@5 does the exact
  // refine stage recover over raw IVFPQ? Both methods' OWN plans run
  // verbatim (v10 and v17 outputs joined against v01's exact truth —
  // re-authoring either here would let the report drift from what it
  // claims to score); the oracle nests the three queries' full SQL so
  // the cross-engine hash pins all three algebras at once. Per
  // (method, query): hits and recall@5. refine > ivfpq on a query
  // means ADC quantization error demoted a true neighbor below rank
  // 5 while it was still inside the top-20 pool — the measured value
  // of the refine knob.
  //
  // 100 TB shape: inherits its members' (truth pinned, both methods'
  // scans bounded); the report tail is queries×5-grain joins.
  val v18 = Q(
    "v18_refine_recall",
    s"""WITH truth0 AS (${v01.oracle.get}),
      |a10 AS (${v10.oracle.get}),
      |a17 AS (${v17.oracle.get}),
      |spine AS (SELECT vec_id AS q_id FROM embeddings
      |          $QuerySetSql),
      |m AS (SELECT 'ivfpq' AS method, q_id, neighbor_id FROM a10
      |      UNION ALL
      |      SELECT 'ivfpq_refine', q_id, neighbor_id FROM a17),
      |hits AS (SELECT m.method, t.q_id, CAST(COUNT(*) AS BIGINT) AS c
      |         FROM truth0 t JOIN m ON t.q_id = m.q_id
      |           AND t.neighbor_id = m.neighbor_id
      |         GROUP BY m.method, t.q_id)
      |SELECT meth.method, spine.q_id,
      |  CAST(COALESCE(hits.c, 0) AS BIGINT) AS n_hits,
      |  COALESCE(hits.c, 0)::DOUBLE / 5.0 AS recall_at_5
      |FROM spine CROSS JOIN (VALUES ('ivfpq'), ('ivfpq_refine'))
      |  AS meth(method)
      |LEFT JOIN hits ON hits.q_id = spine.q_id
      |  AND hits.method = meth.method""".stripMargin) { (s, dir) =>
    val truth = graft.operators.Pin(
      v01.run(s, dir).select("q_id", "neighbor_id"))
    val m = v10.run(s, dir)
      .select(lit("ivfpq").as("method"), col("q_id"), col("neighbor_id"))
      .unionAll(v17.run(s, dir)
        .select(lit("ivfpq_refine").as("method"), col("q_id"),
          col("neighbor_id")))
    val hits = truth.join(m, Seq("q_id", "neighbor_id"))
      .groupBy("method", "q_id").agg(count(lit(1)).as("c"))
    val spine = querySet(Tables.load(s, dir, "embeddings"))
      .select(col("vec_id").as("q_id"))
    import s.implicits._
    spine.crossJoin(
        broadcast(Seq("ivfpq", "ivfpq_refine").toDF("method")))
      .join(broadcast(hits), Seq("method", "q_id"), "left")
      .select(col("method"), col("q_id"),
        coalesce(col("c"), lit(0L)).as("n_hits"),
        (coalesce(col("c"), lit(0L)).cast(DoubleType) / lit(5.0))
          .as("recall_at_5"))
  }

  // ---------------------------------------------------------------
  // v19 hard-negative mining — the contrastive-training data-mining
  // primitive (triplet/InfoNCE batch construction, Schroff et al.
  // 2015 FaceNet §3.2 "hard negative" selection): for each query in
  // the bounded v01 spine, the top-5 highest-cosine vectors with a
  // DIFFERENT label (the negatives a contrastive loss learns most
  // from), each annotated with the query's hardest POSITIVE cosine
  // (max over same-label vectors) and the triplet margin
  // pos_best − neg_cosine — margin < 0 is a live triplet violation,
  // the rows a miner would emit into the next training batch.
  //
  // Scale shape: v01's exact-baseline regime — the query side is
  // bounded ([[V01Queries]] rows) and BROADCASTS, the corpus side
  // streams through the join with no exchange. The negative top-5 is
  // TWO-LEVEL (s15/s18's rank construction, applied to top-k): a
  // per-(q_id, neighbor_id%64) shard window first — queries×64
  // parallel partitions instead of a |queries|-partition corpus
  // sort — then the global window over the surviving queries×64×5
  // bounded rows. Global top-5 ⊆ the union of per-shard top-5s, so
  // the result is identical to the single window the oracle runs,
  // while no partition ever sorts more than ~1/64th of a query's
  // candidates (the positive side needs no such split: max() combines
  // map-side). The mining-at-scale variant swaps the corpus side for
  // v17's ANN candidate pool, composable by construction since both
  // end in (q_id, neighbor_id, cosine). Exactness: scaled-integer
  // dots ([[Fns.scaleVec]]), neighbor_id tiebreaks, and MAX over
  // exact-input doubles (order-independent) — both engines select
  // identical triplets. A query whose label covers the whole corpus
  // would have no negatives and emits nothing (impossible under the
  // spine: labels partition the corpus); pos_best is an inner-join
  // column because every label class has ≥2 members at every SF —
  // a singleton class would silently DROP its spine query in both
  // engines (the oracle shares the join, so the hash gate can't see
  // it), which is why the spine-coverage spec asserts every spine
  // query emits rows at every SF (ADVICE r8).
  val v19 = Q(
    "v19_hard_negatives",
    s"""$normCte,
      |lab AS (SELECT e.vec_id, emb.label, e.sx, e.n
      |        FROM e JOIN embeddings emb ON e.vec_id = emb.vec_id),
      |q AS (SELECT vec_id AS q_id, label AS q_label, sx AS q_sx,
      |        n AS q_n
      |      FROM lab $QuerySetSql),
      |neg AS (SELECT q.q_id, q.q_label, e.vec_id AS neighbor_id,
      |          e.label AS neighbor_label,
      |          $dotSql::DOUBLE / (sqrt(q.q_n::DOUBLE) * sqrt(e.n::DOUBLE))
      |            AS cosine
      |        FROM q JOIN lab e ON e.label <> q.q_label),
      |pos AS (SELECT q.q_id,
      |          MAX($dotSql::DOUBLE
      |            / (sqrt(q.q_n::DOUBLE) * sqrt(e.n::DOUBLE)))
      |            AS pos_best
      |        FROM q JOIN lab e ON e.label = q.q_label
      |          AND e.vec_id <> q.q_id
      |        GROUP BY q.q_id)
      |SELECT n.q_id, n.q_label, n.neighbor_id, n.neighbor_label,
      |  n.rnk, n.cosine, p.pos_best, p.pos_best - n.cosine AS margin
      |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
      |        ORDER BY cosine DESC, neighbor_id) AS rnk FROM neg) n
      |JOIN pos p ON n.q_id = p.q_id
      |WHERE n.rnk <= 5""".stripMargin) { (s, dir) =>
    val lab = elFrame(Tables.load(s, dir, "embeddings"))
    val q = querySet(lab)
      .select(col("vec_id").as("q_id"), col("label").as("q_label"),
        col("sx").as("q_sx"), col("n").as("q_n"))
    val joined = lab.join(broadcast(q), col("vec_id") =!= col("q_id"))
      .withColumn("cosine", Fns.cosineFromScaled(
        VectorExprs.dotIntNative(col("q_sx"), col("sx")),
        col("q_n"), col("n")))
    val wShard = Window.partitionBy("q_id", "shard")
      .orderBy(col("cosine").desc, col("neighbor_id"))
    val w = Window.partitionBy("q_id")
      .orderBy(col("cosine").desc, col("neighbor_id"))
    val neg = joined.filter(col("label") =!= col("q_label"))
      .select(col("q_id"), col("q_label"),
        col("vec_id").as("neighbor_id"),
        col("label").as("neighbor_label"), col("cosine"))
      // two-level top-k: shard first (queries×64 parallel windows),
      // then the global window over ≤ queries×64×5 surviving rows
      .withColumn("shard", pmod(col("neighbor_id"), lit(64)))
      .withColumn("r1", row_number().over(wShard))
      .filter(col("r1") <= 5)
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 5)
      .drop("shard", "r1")
    // q_id-grain (≤ V01Queries rows by construction) → broadcast
    val pos = joined.filter(col("label") === col("q_label"))
      .groupBy("q_id").agg(max("cosine").as("pos_best"))
    neg.join(broadcast(pos), Seq("q_id"))
      .select(col("q_id"), col("q_label"), col("neighbor_id"),
        col("neighbor_label"), col("rnk"), col("cosine"),
        col("pos_best"), (col("pos_best") - col("cosine")).as("margin"))
  }

  // ---------------------------------------------------------------
  // v20 corpus-wide triplet mining — v19's job at the corpus grain
  // (the batch mining pass a contrastive-training pipeline actually
  // runs: EVERY vector is an anchor, not a 20-query spine). Blocking
  // makes it linear: candidates come only from the anchor's 8-bit
  // orthant cell (the sign structure d06/d13/v16 block on — and the
  // right block for mining, because same-cell different-label vectors
  // point the same way, i.e. are exactly the HARD negatives). Per
  // anchor: the top-3 highest-cosine different-label negatives, the
  // hardest same-label positive in the cell (NULL when the anchor is
  // alone among its label there — the narrow-cell trade v16
  // documents), and the triplet margin.
  //
  // Scale shape: d06's audited in-join pattern — the cell self-join's
  // sides are the N compact vector rows (never materialized
  // candidates), the cosine computes INSIDE the join, and the
  // candidate blow-up is bounded by Σ cell². The cell width is
  // AUTO-DERIVED from the corpus size (the autoDfCap/d14-auto-k move,
  // measured necessary: at fixed 8 bits the 100× campaign read 50 s —
  // quadratic cell growth): bits = smallest b in [8..16] with
  // N ≤ [[MineTargetCell]]·2^b, computed as EXACT integer
  // comparisons — 2^Σ[indicator] = Π(1+indicator) — so Spark and the
  // oracle derive the identical width at every SF (no float log2,
  // whose last-ulp could differ across libm). The cell itself is the
  // 16-bit orthant masked to the derived width (orthant(1,16) mod 2^b
  // ≡ orthant(1,b) by the bit layout). The join runs twice (negative
  // and positive sides — bounded 2× compute, the d06 two-band
  // precedent); the rank window and the positive max-agg key on
  // vec_id, corpus-wide parallel. The pos join is vec-grain and
  // deliberately NOT broadcast (d10's removed-set reasoning: it is
  // corpus-proportional).
  private val MineTargetCell = 80L
  private val MineMaxBits = 16
  private val MineK = 3
  /** Oracle fragment: 2^(derived bits) as Π(1+[N > target·2^(j-1)]),
    * j = 9..[[MineMaxBits]] — needs CTE `tot(nv)` in scope. */
  private val minePow2Sql: String =
    "256" + (9 to MineMaxBits).map { j =>
      s" * (1 + (tot.nv > ${MineTargetCell * (1L << (j - 1))})::BIGINT)"
    }.mkString
  /** Spark twin of [[minePow2Sql]] over the 1-row corpus total. */
  private def minePow2Col: Column =
    (9 to MineMaxBits).map { j =>
      lit(1L) + when(col("nv") > MineTargetCell * (1L << (j - 1)), 1L)
        .otherwise(0L)
    }.foldLeft(lit(256L))(_ * _)
  val v20 = Q(
    "v20_triplet_mine",
    s"""WITH e AS (SELECT vec_id, label,
      |    list_transform(embedding, x -> round(x::DOUBLE*1e6)::BIGINT) AS sx
      |  FROM embeddings),
      |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS nv FROM embeddings),
      |n AS (SELECT vec_id, label, sx,
      |    CAST(list_sum(list_transform(sx, x -> x*x)) AS BIGINT) AS nn,
      |    (${TextDedup.orthantSql(1, MineMaxBits)}) % ($minePow2Sql)
      |      AS cell
      |  FROM e, tot),
      |p AS (SELECT a.vec_id, a.label, b.vec_id AS neighbor_id,
      |        b.label AS neighbor_label,
      |        CAST(list_sum(list_transform(list_zip(a.sx, b.sx),
      |          x -> x[1]*x[2])) AS BIGINT)::DOUBLE
      |          / (sqrt(a.nn::DOUBLE) * sqrt(b.nn::DOUBLE)) AS cosine
      |      FROM n a JOIN n b ON a.cell = b.cell
      |        AND a.vec_id <> b.vec_id),
      |neg AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
      |          ORDER BY cosine DESC, neighbor_id) AS rnk
      |        FROM p WHERE label <> neighbor_label),
      |pos AS (SELECT vec_id, MAX(cosine) AS pos_best
      |        FROM p WHERE label = neighbor_label GROUP BY vec_id)
      |SELECT g.vec_id, g.label, g.neighbor_id, g.neighbor_label,
      |  g.rnk, g.cosine, pos.pos_best,
      |  pos.pos_best - g.cosine AS margin
      |FROM (SELECT * FROM neg WHERE rnk <= $MineK) g
      |LEFT JOIN pos ON g.vec_id = pos.vec_id""".stripMargin) { (s, dir) =>
    // pinned: scale+norm+cell runs once, both join passes read it;
    // the derived cell width joins in as a broadcast 1-row total
    // (t10's corpus-total pattern)
    val tot = Tables.load(s, dir, "embeddings")
      .agg(count(lit(1)).as("nv"))
      .select(minePow2Col.as("pow2"))
    val n = graft.operators.Pin(Tables.load(s, dir, "embeddings")
      .select(col("vec_id"), col("label"),
        Fns.scaleVec(col("embedding")).as("sx"))
      .withColumn("nn", VectorExprs.normSqIntNative(col("sx")))
      .crossJoin(broadcast(tot))
      .withColumn("cell",
        TextDedup.orthantCol(1, MineMaxBits) % col("pow2"))
      .drop("pow2"))
    val cos = Fns.cosineFromScaled(
      VectorExprs.dotIntNative(col("sx_a"), col("sx_b")),
      col("nn_a"), col("nn_b"))
    def cellJoin(sameLabel: Boolean) = {
      val labelCond =
        if (sameLabel) col("label_a") === col("label_b")
        else col("label_a") =!= col("label_b")
      // the left input is never broadcast: both inputs read the `n`
      // pin, and on a cold pin AQE would otherwise broadcast whichever
      // side's cache stage finished first
      GraftColumnBridge.noBroadcast(n.select(col("vec_id").as("vec_id_a"),
          col("label").as("label_a"), col("cell"), col("sx").as("sx_a"),
          col("nn").as("nn_a")))
        .join(n.select(col("vec_id").as("vec_id_b"),
          col("label").as("label_b"), col("cell"),
          col("sx").as("sx_b"), col("nn").as("nn_b")), Seq("cell"))
        .filter(col("vec_id_a") =!= col("vec_id_b") && labelCond)
    }
    val w = Window.partitionBy("vec_id")
      .orderBy(col("cosine").desc, col("neighbor_id"))
    val neg = cellJoin(sameLabel = false)
      .select(col("vec_id_a").as("vec_id"), col("label_a").as("label"),
        col("vec_id_b").as("neighbor_id"),
        col("label_b").as("neighbor_label"), cos.as("cosine"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= MineK)
    val pos = cellJoin(sameLabel = true)
      .select(col("vec_id_a").as("vec_id"), cos.as("cosine"))
      .groupBy("vec_id").agg(max("cosine").as("pos_best"))
    neg.join(pos, Seq("vec_id"), "left")
      .select(col("vec_id"), col("label"), col("neighbor_id"),
        col("neighbor_label"), col("rnk"), col("cosine"),
        col("pos_best"), (col("pos_best") - col("cosine")).as("margin"))
  }

  val all: Seq[Q] =
    Seq(v01, v02, v03, v04, v05, v06, v07, v08, v09, v10, v11, v12, v13,
      d14, v14, v15, v16, v17, v18, v19, v20)
}
