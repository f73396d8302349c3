package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.io.Tables
import Gen._

/** Approximate-nearest-neighbor search over the `embeddings` table.
  *
  * Baseline: brute-force cosine top-k — query set broadcast against the
  * corpus, one codegen'd 64-term dot product per (query, candidate)
  * (norms precomputed per vector), then a per-query top-k window. At
  * 100 TB the corpus side stays partitioned (never collected) and the
  * query side is the broadcast relation, so scan parallelism is the
  * corpus partitioning.
  *
  * Scale path: random-hyperplane LSH — each vector hashes to a bucket
  * from the sign pattern of `nPlanes` fixed pseudo-random hyperplanes
  * (Gen.planeSign, Charikar 2002-style); candidate generation becomes a
  * bucket equi-join instead of a cross product.
  */
object Similarity {

  private val nPlanes = 4
  private val topK = 10
  private val nQueries = 5

  /** Vectors as double arrays with precomputed L2 norms (bench sessions
    * persist this prefix once across the ann_* / dedup queries). */
  private[llm] def vecs(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.Native.register(spark)
    graft.PlanCache(spark, "ann_vecs", dir) {
      Tables.embeddings(spark, dir)
        .selectExpr("vec_id", "label", s"${toDoubleArr("embedding", SparkD)} AS v")
        .selectExpr("vec_id", "label", "v", s"${norm64("v", SparkD)} AS nrm")
    }
  }

  private[llm] def vecsCte(d: Dialect): String =
    s"""e0 AS (SELECT vec_id, label, ${toDoubleArr("embedding", d)} AS v FROM embeddings),
        e AS (SELECT vec_id, label, v, ${norm64("v", d)} AS nrm FROM e0)"""

  /** The cosine top-k every tier ranks with: each query in `queries`
    * scored against the `cands` that share its `keys` (no key: every
    * pair, the broadcast-queries cross product), the self pair dropped.
    * Both sides are vector-shaped (`vec_id, v, nrm` plus the keys); the
    * query side is the broadcast relation, so scan parallelism is the
    * candidate partitioning. Output: `query_id, vec_id, <carried>,
    * rank, cosine` ordered by `query_id, rank`. */
  private def cosineTopKOf(cands: DataFrame, queries: DataFrame,
      keys: Seq[String], carried: Seq[String] = Nil): DataFrame = {
    val q = queries.selectExpr(Seq("vec_id AS query_id", "v AS qv", "nrm AS qnrm") ++ keys: _*)
    val pairs =
      if (keys.isEmpty) cands.join(broadcast(q), col("vec_id") =!= col("query_id"))
      else cands.join(broadcast(q), keys).filter(col("vec_id") =!= col("query_id"))
    rankTopK(pairs.selectExpr(Seq("query_id", "vec_id") ++ carried :+
      s"${cosineWithNorms("qv", "v", "qnrm", "nrm", SparkD)} AS cosine": _*), carried)
  }

  /** The ranking step of [[cosineTopKOf]]: scored `(query_id, vec_id,
    * <carried>, cosine)` rows ranked per query by cosine desc, vec_id
    * asc (a total order), top [[topK]] kept. */
  private def rankTopK(scored: DataFrame, carried: Seq[String] = Nil): DataFrame = {
    val w = Window.partitionBy("query_id").orderBy(desc("cosine"), asc("vec_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
      .select((Seq("query_id", "vec_id") ++ carried ++ Seq("rank", "cosine")).map(col): _*)
      .orderBy("query_id", "rank")
  }

  /** The query vectors: vec_id < [[nQueries]]. */
  private def queriesOf(df: DataFrame): DataFrame = df.filter(col("vec_id") < nQueries)

  /** Brute-force cosine top-10 for query vectors vec_id < 5. */
  def cosineTopK(spark: SparkSession, dir: String): DataFrame = {
    val all = vecs(spark, dir)
    cosineTopKOf(all, queriesOf(all), Nil)
  }

  val cosineTopKOracle: String =
    s"""WITH ${vecsCte(DuckD)},
        q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qnrm FROM e WHERE vec_id < $nQueries),
        scored AS (SELECT q.query_id, e.vec_id,
                     ${cosineWithNorms("q.qv", "e.v", "q.qnrm", "e.nrm", DuckD)} AS cosine
                   FROM e JOIN q ON e.vec_id <> q.query_id),
        ranked AS (SELECT *, row_number() OVER
                     (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rank
                   FROM scored)
        SELECT query_id, vec_id, rank, cosine FROM ranked
        WHERE rank <= $topK ORDER BY query_id, rank"""

  /** LSH bucket assignment (the scale-path index structure). */
  def lshBuckets(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .selectExpr("vec_id", "label", s"${toDoubleArr("embedding", SparkD)} AS v")
      .selectExpr("vec_id", "label",
        s"CAST(${lshBucket("v", nPlanes, SparkD)} AS INTEGER) AS bucket")
      .orderBy("vec_id")

  val lshBucketsOracle: String =
    s"""WITH e0 AS (SELECT vec_id, label, ${toDoubleArr("embedding", DuckD)} AS v FROM embeddings)
        SELECT vec_id, label, CAST(${lshBucket("v", nPlanes, DuckD)} AS INTEGER) AS bucket
        FROM e0 ORDER BY vec_id"""

  /** LSH-bucketed top-k: candidates restricted to the query's bucket —
    * the equi-join replaces the cross product. */
  def lshTopK(spark: SparkSession, dir: String): DataFrame = {
    val bucketed = vecs(spark, dir)
      .selectExpr("vec_id", "v", "nrm",
        s"CAST(${lshBucket("v", nPlanes, SparkD)} AS INTEGER) AS bucket")
    cosineTopKOf(bucketed, queriesOf(bucketed), Seq("bucket"), Seq("bucket"))
  }

  // ---- IVF (inverted-file) variant ----

  private val centroidMod = 100

  /** Hard cap on the coarse-quantizer size (nlist). Without it the
    * `vec_id % centroidMod == 0` sample grows as n/100 with the corpus
    * — at 10^10 vectors the centroid relation itself would blow past
    * Spark's 8 GB broadcast hard limit (VERDICT r7 #2). Real IVF runs a
    * FIXED nlist (typically ~sqrt(n), capped in the thousands) with a
    * trained coarse quantizer; we cap the deterministic sample the same
    * way: centroids are the first `maxNlist` sampled vec_ids, so
    * nlist = min(n/centroidMod, maxNlist) and the broadcast side is
    * bounded at ~maxNlist·(dim·8) bytes ≈ 2 MB forever. The trade is
    * recall, not correctness: past the cap, cells grow as n/nlist, and
    * the recall knob is probing more cells ([[ivfTopKMultiProbe]]) —
    * the standard IVF trade, now explicit. The cap never binds at
    * fixture scale, so oracles use the same literal bound; specs lower
    * it through the `maxNlist` parameter of [[ivfCells]] and
    * [[ivfTopK]]. */
  private[graft] val defaultMaxNlist = 4096L

  /** The bounded centroid-sample predicate (Spark side). */
  private def centroidPred(maxNlist: Long = defaultMaxNlist) =
    (col("vec_id") % centroidMod === 0) &&
      (col("vec_id") < lit(centroidMod.toLong * maxNlist))

  /** The coarse quantizer's centroids, `(centroid_id, cv, cnrm)`. */
  private def centroids(all: DataFrame, maxNlist: Long = defaultMaxNlist): DataFrame =
    all.filter(centroidPred(maxNlist))
      .selectExpr("vec_id AS centroid_id", "v AS cv", "nrm AS cnrm")

  /** Oracle twin of [[centroidPred]] at the default cap. */
  private def centroidPredSql: String =
    s"vec_id % $centroidMod = 0 AND vec_id < ${centroidMod.toLong * defaultMaxNlist}"

  /** IVF coarse quantizer: a deterministic sample of the corpus
    * (vec_id % 100 == 0, capped at [[defaultMaxNlist]] entries) serves
    * as centroids; every vector is assigned to its highest-cosine
    * centroid. At 100 TB the centroid set is the bounded broadcast side
    * and assignment is one scan; search then probes only the query's
    * cell (an equi-join on cell id), the standard IVF trade: recall vs
    * the number of probed cells. */
  /** Assign every vector to its highest-cosine centroid — the assign
    * half of a Lloyd iteration; centroids are the broadcast side, so
    * assignment is one corpus scan at any scale. */
  private def assignTo(all: DataFrame, cents: DataFrame): DataFrame = {
    val w = Window.partitionBy("vec_id").orderBy(desc("ccos"), asc("centroid_id"))
    all.crossJoin(broadcast(cents))
      .selectExpr("vec_id", "label", "v", "nrm", "centroid_id",
        s"${cosineWithNorms("v", "cv", "nrm", "cnrm", SparkD)} AS ccos")
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .selectExpr("vec_id", "label", "v", "nrm", "centroid_id AS cell", "ccos")
  }

  private def ivfAssigned(spark: SparkSession, dir: String,
      maxNlist: Long = defaultMaxNlist): DataFrame =
    graft.PlanCache(spark, s"ivf_assigned_$maxNlist", dir) {
      val all = vecs(spark, dir)
      assignTo(all, centroids(all, maxNlist))
    }

  private def ivfCte(d: Dialect): String =
    s"""${vecsCte(d)},
        cents AS (SELECT vec_id AS centroid_id, v AS cv, nrm AS cnrm
                  FROM e WHERE $centroidPredSql),
        assigned AS (SELECT e.vec_id, e.label, e.v, e.nrm, c.centroid_id AS cell,
                       ${cosineWithNorms("e.v", "c.cv", "e.nrm", "c.cnrm", d)} AS ccos
                     FROM e CROSS JOIN cents c
                     QUALIFY row_number() OVER (PARTITION BY e.vec_id
                       ORDER BY ccos DESC, c.centroid_id) = 1)"""

  /** Cell assignment (the IVF index structure). */
  def ivfCells(spark: SparkSession, dir: String): DataFrame =
    ivfCells(spark, dir, defaultMaxNlist)

  private[graft] def ivfCells(spark: SparkSession, dir: String, maxNlist: Long): DataFrame =
    ivfAssigned(spark, dir, maxNlist)
      .select("vec_id", "label", "cell", "ccos")
      .orderBy("vec_id")

  val ivfCellsOracle: String =
    s"""WITH ${ivfCte(DuckD)}
        SELECT vec_id, label, cell, ccos FROM assigned ORDER BY vec_id"""

  /** IVF top-k: probe only the query's cell. */
  def ivfTopK(spark: SparkSession, dir: String): DataFrame =
    ivfTopK(spark, dir, defaultMaxNlist)

  private[graft] def ivfTopK(spark: SparkSession, dir: String, maxNlist: Long): DataFrame = {
    val assigned = ivfAssigned(spark, dir, maxNlist)
    cosineTopKOf(assigned, queriesOf(assigned), Seq("cell"), Seq("cell"))
  }

  val ivfTopKOracle: String =
    s"""WITH ${ivfCte(DuckD)},
        q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qnrm, cell
              FROM assigned WHERE vec_id < $nQueries),
        scored AS (SELECT q.query_id, a.vec_id, a.cell,
                     ${cosineWithNorms("q.qv", "a.v", "q.qnrm", "a.nrm", DuckD)} AS cosine
                   FROM assigned a JOIN q ON a.cell = q.cell AND a.vec_id <> q.query_id),
        ranked AS (SELECT *, row_number() OVER
                     (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rank
                   FROM scored)
        SELECT query_id, vec_id, cell, rank, cosine FROM ranked
        WHERE rank <= $topK ORDER BY query_id, rank"""

  private val nProbe = 2

  /** Multi-probe IVF top-k: each query probes its `nProbe` nearest
    * cells instead of one — THE recall knob of an IVF index (a query
    * near a cell boundary misses true neighbors assigned to the
    * adjacent cell under single-probe). Cost scales linearly in
    * probed cells while staying an equi-join on cell id. */
  def ivfTopKMultiProbe(spark: SparkSession, dir: String): DataFrame =
    probeTopK(spark, dir, nProbe)

  /** The probe search: each query ranks the centroids by the same
    * cosine-then-centroid_id order as assignment ([[assignTo]]), keeps
    * its `p` nearest cells, and ranks the vectors assigned to them. One
    * body for the probe-2 query and every tier of [[probeSweep]]. */
  private def probeTopK(spark: SparkSession, dir: String, p: Int): DataFrame = {
    val all = vecs(spark, dir)
    val qw = Window.partitionBy("vec_id").orderBy(desc("qccos"), asc("centroid_id"))
    val probed = queriesOf(all)
      .crossJoin(broadcast(centroids(all)))
      .selectExpr("vec_id", "v", "nrm", "centroid_id",
        s"${cosineWithNorms("v", "cv", "nrm", "cnrm", SparkD)} AS qccos")
      .withColumn("__pr", row_number().over(qw))
      .filter(col("__pr") <= p)
      .selectExpr("vec_id", "v", "nrm", "centroid_id AS cell")
    cosineTopKOf(ivfAssigned(spark, dir), probed, Seq("cell"), Seq("cell"))
  }

  val ivfTopKMultiProbeOracle: String =
    s"""WITH ${ivfCte(DuckD)},
        qc AS (SELECT e.vec_id AS query_id, e.v AS qv, e.nrm AS qnrm,
                 c.centroid_id AS cell,
                 ${cosineWithNorms("e.v", "c.cv", "e.nrm", "c.cnrm", DuckD)} AS qccos
               FROM e CROSS JOIN cents c
               WHERE e.vec_id < $nQueries
               QUALIFY row_number() OVER (PARTITION BY e.vec_id
                 ORDER BY qccos DESC, c.centroid_id) <= $nProbe),
        scored AS (SELECT q.query_id, a.vec_id, a.cell,
                     ${cosineWithNorms("q.qv", "a.v", "q.qnrm", "a.nrm", DuckD)} AS cosine
                   FROM assigned a JOIN qc q ON a.cell = q.cell
                    AND a.vec_id <> q.query_id),
        ranked AS (SELECT *, row_number() OVER
                     (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rank
                   FROM scored)
        SELECT query_id, vec_id, cell, rank, cosine FROM ranked
        WHERE rank <= $topK ORDER BY query_id, rank"""

  private val probeSweepPs = Seq(1, 2, 4, 8)

  /** `ann_probe_sweep`: the recall-vs-probe CURVE (p ∈ 1,2,4,8) against
    * brute-force truth — the measured trade-off an IVF deployment is
    * tuned from (probe count multiplies scanned cells linearly; recall
    * saturates once the probed cells cover the query's true
    * neighborhood, and THIS table says where). Same audit as the
    * per-tier recall ([[recallAtK]]); each probe tier stays the bounded
    * broadcast-cells equi-join shape regardless of corpus size. */
  def probeSweep(spark: SparkSession, dir: String): DataFrame =
    recallByTier(cosineTruth(spark, dir), "n_probe",
      probeSweepPs.map(p => lit(p).cast("int") -> probeTopK(spark, dir, p)))

  val probeSweepOracle: String = {
    val tiers = probeSweepPs.map { p =>
      s"""qc_$p AS (SELECT e.vec_id AS query_id, e.v AS qv, e.nrm AS qnrm,
              c.centroid_id AS cell,
              ${cosineWithNorms("e.v", "c.cv", "e.nrm", "c.cnrm", DuckD)} AS qccos
            FROM e CROSS JOIN cents c
            WHERE e.vec_id < $nQueries
            QUALIFY row_number() OVER (PARTITION BY e.vec_id
              ORDER BY qccos DESC, c.centroid_id) <= $p),
          sc_$p AS (SELECT q.query_id, a.vec_id,
              ${cosineWithNorms("q.qv", "a.v", "q.qnrm", "a.nrm", DuckD)} AS cosine
            FROM assigned a JOIN qc_$p q ON a.cell = q.cell
             AND a.vec_id <> q.query_id),
          r_$p AS (SELECT query_id, vec_id FROM sc_$p
            QUALIFY row_number() OVER (PARTITION BY query_id
              ORDER BY cosine DESC, vec_id) <= $topK)"""
    }.mkString(",\n        ")
    val rows = probeSweepPs.map { p =>
      s"""SELECT CAST($p AS INTEGER) AS n_probe,
            CAST(count(*) AS BIGINT) AS n_true,
            CAST(sum(CASE WHEN EXISTS (SELECT 1 FROM r_$p r
              WHERE r.query_id = t.query_id AND r.vec_id = t.vec_id)
              THEN 1 ELSE 0 END) AS BIGINT) AS n_hit
          FROM truth t"""
    }.mkString(" UNION ALL ")
    s"""WITH ${ivfCte(DuckD)},
        tq AS (SELECT vec_id AS query_id, v AS qv, nrm AS qnrm FROM e
               WHERE vec_id < $nQueries),
        t_scored AS (SELECT tq.query_id, e.vec_id,
            ${cosineWithNorms("tq.qv", "e.v", "tq.qnrm", "e.nrm", DuckD)} AS cosine
          FROM e JOIN tq ON e.vec_id <> tq.query_id),
        truth AS MATERIALIZED (SELECT query_id, vec_id FROM t_scored
          QUALIFY row_number() OVER (PARTITION BY query_id
            ORDER BY cosine DESC, vec_id) <= $topK),
        $tiers
        SELECT n_probe, n_true, n_hit,
          CASE WHEN n_true > 0 THEN n_hit / CAST(n_true AS DOUBLE)
            ELSE CAST(0 AS DOUBLE) END AS recall_at_k
        FROM ($rows) u ORDER BY n_probe"""
  }

  /** One k-means refinement step over the IVF assignment — how the
    * coarse quantizer is actually trained at scale (Lloyd iteration:
    * assign → recompute centroids; [[ivfAssigned]] is the assign
    * half). Emits the refreshed centroid in long form (cell, dim,
    * mean) plus member counts.
    *
    * Determinism: a double mean is order-dependent under parallel sum,
    * so each element is quantized to 1e-7 (CAST(round(x·1e7) AS
    * BIGINT)), summed exactly (order-independent), then unscaled and
    * divided — the repo's centSum pattern applied per dimension. Plan
    * shape: posexplode → hash agg on (cell, dim) with map-side partial
    * aggregation — one shuffle keyed wide enough (cells × 64 dims) to
    * spread across any cluster. */
  /** Centroid-update half of a Lloyd iteration, in long form (cell,
    * dim, n_members, mean_x): posexplode → map-side-combined hash agg
    * on (cell, dim); per-dim quantize-sum-unscale keeps the double
    * means order-independent (exact — see [[ivfKmeansStep]]). */
  private def kmeansUpdate(assigned: DataFrame): DataFrame =
    assigned
      .select(col("cell"), posexplode(col("v")).as(Seq("dim", "x")))
      .groupBy("cell", "dim")
      .agg(count(lit(1)).as("n_members"),
        sum(expr("CAST(round(x * 10000000) AS BIGINT)")).as("qs"))
      .selectExpr("cell", "dim", "n_members",
        "qs / CAST(10000000 AS DOUBLE) / n_members AS mean_x")

  /** Reassemble long-form centroid means into vectors with norms, the
    * broadcast relation the next assign step needs. sort_array on
    * (dim, mean) structs makes the collect order deterministic. */
  private def centroidsOf(updLong: DataFrame): DataFrame =
    updLong.groupBy("cell")
      .agg(expr(
        "transform(sort_array(collect_list(struct(dim, mean_x))), s -> s.mean_x)")
        .as("cv"))
      .selectExpr("cell AS centroid_id", "cv", s"${norm64("cv", SparkD)} AS cnrm")

  /** Oracle twins of [[kmeansUpdate]] / [[centroidsOf]] / [[assignTo]],
    * parameterized by CTE names so Lloyd iterations unroll without
    * name collisions. */
  private def updCte(src: String, out: String): String =
    s"""${out}_u AS (SELECT a.cell, d.dim, count(*) AS n_members,
          sum(CAST(round(a.v[d.dim + 1] * 10000000) AS BIGINT)) AS qs
        FROM $src a CROSS JOIN range(0, $embeddingDims) d(dim)
        GROUP BY a.cell, d.dim),
        $out AS (SELECT cell, dim, n_members,
          qs / CAST(10000000 AS DOUBLE) / n_members AS mean_x FROM ${out}_u)"""

  private def centCte(updName: String, out: String): String =
    s"""${out}_l AS (SELECT cell AS centroid_id, list(mean_x ORDER BY dim) AS cv
          FROM $updName GROUP BY cell),
        $out AS (SELECT centroid_id, cv, ${norm64("cv", DuckD)} AS cnrm
                 FROM ${out}_l)"""

  private def assignCte(centName: String, out: String): String =
    s"""$out AS (SELECT e.vec_id, e.label, e.v, e.nrm, c.centroid_id AS cell,
          ${cosineWithNorms("e.v", "c.cv", "e.nrm", "c.cnrm", DuckD)} AS ccos
        FROM e CROSS JOIN $centName c
        QUALIFY row_number() OVER (PARTITION BY e.vec_id
          ORDER BY ccos DESC, c.centroid_id) = 1)"""

  def ivfKmeansStep(spark: SparkSession, dir: String): DataFrame =
    kmeansUpdate(ivfAssigned(spark, dir)).orderBy("cell", "dim")

  val ivfKmeansStepOracle: String =
    s"""WITH ${ivfCte(DuckD)},
        ${updCte("assigned", "m")}
        SELECT cell, dim, n_members, mean_x FROM m ORDER BY cell, dim"""

  /** How many full Lloyd iterations [[ivfKmeansRefined]] unrolls
    * (assign → update, twice). Fixed and small: at 100 TB the coarse
    * quantizer is trained on a sample in a handful of passes, each one
    * scan + one (cell, dim)-keyed shuffle; the oracle unrolls the same
    * number of CTE rounds. */
  private val lloydIters = 2

  /** The composed k-means refinement loop over the IVF quantizer:
    * start from the deterministic seed centroids ([[ivfAssigned]]'s
    * assignment is iteration 1's assign half), then alternate
    * centroid-update and re-assignment for [[lloydIters]] total
    * iterations, emitting the refined centroids in long form.
    * Every arithmetic step is order-independent (quantized integer
    * sums; same-shape dot products), so the refined quantizer is
    * bit-identical to the unrolled-CTE oracle — iteration drift
    * cannot hide behind "approximately equal". */
  /** Corpus assignment under the refined (iteration-2) centroids —
    * the index the refined search tier probes. Cell ids remain the
    * seed centroid vec_ids through the update, so downstream joins
    * keep their key shape. */
  private def refinedAssigned(spark: SparkSession, dir: String): DataFrame =
    graft.PlanCache(spark, "ivf_refined_assigned", dir) {
      val all = vecs(spark, dir)
      var assigned = ivfAssigned(spark, dir)
      for (_ <- 1 until lloydIters)
        assigned = assignTo(all, centroidsOf(kmeansUpdate(assigned)))
      assigned
    }

  def ivfKmeansRefined(spark: SparkSession, dir: String): DataFrame =
    kmeansUpdate(refinedAssigned(spark, dir)).orderBy("cell", "dim")

  /** IVF top-k probing the REFINED quantizer's cells — the payoff
    * query of the Lloyd loop: better-centered cells put more true
    * neighbors in the probed cell, which [[annRecall]] measures as a
    * separate tier. Same single-probe equi-join shape as [[ivfTopK]]. */
  def ivfTopKRefined(spark: SparkSession, dir: String): DataFrame = {
    val assigned = refinedAssigned(spark, dir)
    cosineTopKOf(assigned, queriesOf(assigned), Seq("cell"), Seq("cell"))
  }

  /** The `a2` CTE chain (refined assignment), shared by the refined
    * oracle queries. */
  private def refinedCtes: String =
    s"""${updCte("assigned", "c1")},
        ${centCte("c1", "cents1")},
        ${assignCte("cents1", "a2")}"""

  val ivfTopKRefinedOracle: String =
    s"""WITH ${ivfCte(DuckD)},
        $refinedCtes,
        q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qnrm, cell
              FROM a2 WHERE vec_id < $nQueries),
        scored AS (SELECT q.query_id, a.vec_id, a.cell,
                     ${cosineWithNorms("q.qv", "a.v", "q.qnrm", "a.nrm", DuckD)} AS cosine
                   FROM a2 a JOIN q ON a.cell = q.cell AND a.vec_id <> q.query_id),
        ranked AS (SELECT *, row_number() OVER
                     (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rank
                   FROM scored)
        SELECT query_id, vec_id, cell, rank, cosine FROM ranked
        WHERE rank <= $topK ORDER BY query_id, rank"""

  val ivfKmeansRefinedOracle: String =
    s"""WITH ${ivfCte(DuckD)},
        $refinedCtes,
        ${updCte("a2", "c2")}
        SELECT cell, dim, n_members, mean_x FROM c2 ORDER BY cell, dim"""

  /** The recall audit: each truth row `(query_id, vec_id)` counts as a
    * hit when `retrieved` holds it, then `(n_true, n_hit, recall_at_k)`
    * per group of `by` (none: one row, zero counts on empty truth).
    * All-integer counting, so the recall doubles are bit-exact across
    * engines. */
  private def recallAtK(truth: DataFrame, retrieved: DataFrame, by: String*): DataFrame =
    // retrieved sets are row_number-deduped: at most one row per
    // (query_id, vec_id), so the left join cannot fan out truth rows
    truth.join(
        retrieved.select("query_id", "vec_id").withColumn("__hit", lit(1)),
        Seq("query_id", "vec_id"), "left_outer")
      .groupBy(by.map(col): _*)
      .agg(count(lit(1)).as("n_true"),
        coalesce(sum(coalesce(col("__hit"), lit(0))), lit(0L))
          .cast("long").as("n_hit"))
      .withColumn("recall_at_k", expr("CASE WHEN n_true > 0 THEN " +
        "n_hit / CAST(n_true AS DOUBLE) ELSE CAST(0 AS DOUBLE) END"))

  /** One [[recallAtK]] row per tier, the tier named by `label`, ordered
    * by it. `truth` feeds every tier: callers cut it. */
  private def recallByTier(truth: DataFrame, label: String,
      tiers: Seq[(Column, DataFrame)]): DataFrame =
    tiers.map { case (name, df) =>
      recallAtK(truth, df).select(name.as(label), col("*"))
    }.reduce(_.unionByName(_)).orderBy(label)

  /** The brute-force cosine top-k as `(query_id, vec_id)`, cut: it
    * feeds every tier of an audit, and uncut the corpus × queries scan
    * and its window would re-execute once per tier. */
  private def cosineTruth(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Checkpoints.cut(cosineTopK(spark, dir).select("query_id", "vec_id"))

  /** Recall@k of each approximate tier against the brute-force
    * ground truth — THE number an ANN index is judged by. Each tier's
    * retrieved set is semi-joined against [[cosineTopK]]'s top-k and
    * reduced to (n_true, n_hit, recall) per tier; the probe-2 row
    * exhibits the recall knob (more probed cells ⇒ recall can only
    * grow — pinned as a monotonicity spec). At scale this is the
    * standard offline index-quality job: truth for a small query
    * sample via brute force, then one semi-join per tier. */
  def annRecall(spark: SparkSession, dir: String): DataFrame =
    recallByTier(cosineTruth(spark, dir), "tier", Seq(
      lit("ivf_probe1") -> ivfTopK(spark, dir),
      lit("ivf_probe2") -> ivfTopKMultiProbe(spark, dir),
      lit("ivf_refined") -> ivfTopKRefined(spark, dir),
      lit("lsh") -> lshTopK(spark, dir)))

  val annRecallOracle: String =
    s"""WITH ${ivfCte(DuckD)},
        $refinedCtes,
        rq AS (SELECT vec_id AS query_id, v AS qv, nrm AS qnrm, cell
               FROM a2 WHERE vec_id < $nQueries),
        r_scored AS (SELECT rq.query_id, a.vec_id,
            ${cosineWithNorms("rq.qv", "a.v", "rq.qnrm", "a.nrm", DuckD)} AS cosine
          FROM a2 a JOIN rq ON a.cell = rq.cell AND a.vec_id <> rq.query_id),
        ivfr AS (SELECT query_id, vec_id FROM r_scored
          QUALIFY row_number() OVER (PARTITION BY query_id
            ORDER BY cosine DESC, vec_id) <= $topK),
        tq AS (SELECT vec_id AS query_id, v AS qv, nrm AS qnrm FROM e
               WHERE vec_id < $nQueries),
        t_scored AS (SELECT tq.query_id, e.vec_id,
            ${cosineWithNorms("tq.qv", "e.v", "tq.qnrm", "e.nrm", DuckD)} AS cosine
          FROM e JOIN tq ON e.vec_id <> tq.query_id),
        truth AS (SELECT query_id, vec_id FROM t_scored
          QUALIFY row_number() OVER (PARTITION BY query_id
            ORDER BY cosine DESC, vec_id) <= $topK),
        bkt AS (SELECT vec_id, v, nrm,
            CAST(${lshBucket("v", nPlanes, DuckD)} AS INTEGER) AS bucket FROM e),
        lq AS (SELECT vec_id AS query_id, v AS qv, nrm AS qnrm, bucket
               FROM bkt WHERE vec_id < $nQueries),
        l_scored AS (SELECT lq.query_id, b.vec_id,
            ${cosineWithNorms("lq.qv", "b.v", "lq.qnrm", "b.nrm", DuckD)} AS cosine
          FROM bkt b JOIN lq ON b.bucket = lq.bucket AND b.vec_id <> lq.query_id),
        lsh_r AS (SELECT query_id, vec_id FROM l_scored
          QUALIFY row_number() OVER (PARTITION BY query_id
            ORDER BY cosine DESC, vec_id) <= $topK),
        iq AS (SELECT vec_id AS query_id, v AS qv, nrm AS qnrm, cell
               FROM assigned WHERE vec_id < $nQueries),
        i_scored AS (SELECT iq.query_id, a.vec_id,
            ${cosineWithNorms("iq.qv", "a.v", "iq.qnrm", "a.nrm", DuckD)} AS cosine
          FROM assigned a JOIN iq ON a.cell = iq.cell AND a.vec_id <> iq.query_id),
        ivf1 AS (SELECT query_id, vec_id FROM i_scored
          QUALIFY row_number() OVER (PARTITION BY query_id
            ORDER BY cosine DESC, vec_id) <= $topK),
        pqc AS (SELECT e.vec_id AS query_id, e.v AS qv, e.nrm AS qnrm,
                 c.centroid_id AS cell,
                 ${cosineWithNorms("e.v", "c.cv", "e.nrm", "c.cnrm", DuckD)} AS qccos
               FROM e CROSS JOIN cents c
               WHERE e.vec_id < $nQueries
               QUALIFY row_number() OVER (PARTITION BY e.vec_id
                 ORDER BY qccos DESC, c.centroid_id) <= $nProbe),
        p_scored AS (SELECT q.query_id, a.vec_id,
            ${cosineWithNorms("q.qv", "a.v", "q.qnrm", "a.nrm", DuckD)} AS cosine
          FROM assigned a JOIN pqc q ON a.cell = q.cell
           AND a.vec_id <> q.query_id),
        ivf2 AS (SELECT query_id, vec_id FROM p_scored
          QUALIFY row_number() OVER (PARTITION BY query_id
            ORDER BY cosine DESC, vec_id) <= $topK),
        res AS (
          SELECT 'ivf_probe1' AS tier, count(*) AS n_true,
            CAST(sum(CASE WHEN EXISTS (SELECT 1 FROM ivf1 r
              WHERE r.query_id = t.query_id AND r.vec_id = t.vec_id)
              THEN 1 ELSE 0 END) AS BIGINT) AS n_hit
          FROM truth t
          UNION ALL
          SELECT 'ivf_probe2', count(*),
            CAST(sum(CASE WHEN EXISTS (SELECT 1 FROM ivf2 r
              WHERE r.query_id = t.query_id AND r.vec_id = t.vec_id)
              THEN 1 ELSE 0 END) AS BIGINT)
          FROM truth t
          UNION ALL
          SELECT 'ivf_refined', count(*),
            CAST(sum(CASE WHEN EXISTS (SELECT 1 FROM ivfr r
              WHERE r.query_id = t.query_id AND r.vec_id = t.vec_id)
              THEN 1 ELSE 0 END) AS BIGINT)
          FROM truth t
          UNION ALL
          SELECT 'lsh', count(*),
            CAST(sum(CASE WHEN EXISTS (SELECT 1 FROM lsh_r r
              WHERE r.query_id = t.query_id AND r.vec_id = t.vec_id)
              THEN 1 ELSE 0 END) AS BIGINT)
          FROM truth t)
        SELECT tier, n_true, CAST(coalesce(n_hit, 0) AS BIGINT) AS n_hit,
          CASE WHEN n_true > 0 THEN coalesce(n_hit, 0) / CAST(n_true AS DOUBLE)
               ELSE CAST(0 AS DOUBLE) END AS recall_at_k
        FROM res ORDER BY tier"""

  // ---- PQ (product quantization) variant ----

  private val nSub = 4
  private val subDim = embeddingDims / nSub

  /** Per-subspace code assignment: every vector is cut into [[nSub]]
    * contiguous sub-vectors and each sub-vector is snapped to its
    * nearest (squared-L2) codebook entry. The codebook reuses the IVF
    * seed sample (vec_id % [[centroidMod]] == 0) — one shared codebook
    * across subspaces, the "shared dictionary" PQ variant — and codes
    * keep the seed vec_ids so joins stay key-shaped.
    *
    * Why this tier exists at 100 TB: a 64-dim double vector is 512
    * bytes; its PQ form is [[nSub]] small codes — a ~100× memory
    * compression that lets the whole index live hot while full
    * vectors stay in cold storage (Jégou, Douze, Schmid, "Product
    * Quantization for Nearest Neighbor Search", TPAMI 2011). Plan
    * shape: corpus × broadcast-codebook (the assignTo pattern), one
    * posexplode to long (vec, subspace) form, one argmin window keyed
    * (vec_id, subspace) — wide enough to spread over any cluster. */
  private def pqCents(spark: SparkSession, dir: String): DataFrame =
    vecs(spark, dir).filter(centroidPred())
      .selectExpr("vec_id AS code", "v AS cv")

  private def pqCodesDf(spark: SparkSession, dir: String): DataFrame =
    graft.PlanCache(spark, "pq_codes", dir) {
      val dcols = (0 until nSub).map(s =>
        s"${l2sqRange("v", "cv", s * subDim, subDim, SparkD)} AS d$s")
      val w = Window.partitionBy("vec_id", "subspace").orderBy(asc("dist"), asc("code"))
      vecs(spark, dir).crossJoin(broadcast(pqCents(spark, dir)))
        .selectExpr(Seq("vec_id", "code") ++ dcols: _*)
        .selectExpr("vec_id", "code",
          s"posexplode(array(${(0 until nSub).map("d" + _).mkString(", ")})) AS (subspace, dist)")
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1)
        .select("vec_id", "subspace", "code", "dist")
    }

  def pqCodes(spark: SparkSession, dir: String): DataFrame =
    pqCodesDf(spark, dir).orderBy("vec_id", "subspace")

  /** CTE chain ending in `pq_codes(vec_id, subspace, code, dist)` —
    * oracle twin of [[pqCodesDf]] (subspace long form via a range
    * cross join + CASE pick, same values as posexplode). */
  private def pqCtes(d: Dialect): String = {
    val dcols = (0 until nSub).map(s =>
      s"${l2sqRange("e.v", "c.cv", s * subDim, subDim, d)} AS d$s").mkString(", ")
    val pick = (0 until nSub - 1).map(s => s"WHEN $s THEN d$s").mkString(" ")
    s"""pq_cents AS (SELECT vec_id AS code, v AS cv FROM e
          WHERE $centroidPredSql),
        pq_d AS (SELECT e.vec_id, c.code, $dcols FROM e CROSS JOIN pq_cents c),
        pq_long AS (SELECT vec_id, code, t.subspace,
            CASE t.subspace $pick ELSE d${nSub - 1} END AS dist
          FROM pq_d CROSS JOIN range(0, $nSub) t(subspace)),
        pq_codes AS (SELECT vec_id, subspace, code, dist FROM pq_long
          QUALIFY row_number() OVER (PARTITION BY vec_id, subspace
            ORDER BY dist, code) = 1)"""
  }

  val pqCodesOracle: String =
    s"""WITH ${vecsCte(DuckD)},
        ${pqCtes(DuckD)}
        SELECT vec_id, subspace, code, dist FROM pq_codes
        ORDER BY vec_id, subspace"""

  /** The ADC distance table `(query_id, code, subspace, pd)`: squared
    * L2 from each query's sub-vectors to every codebook entry —
    * (queries × codebook × [[nSub]]) rows, tiny, broadcast by the ADC
    * tiers. Each partial is a fixed-order unrolled fold. */
  private def adcTable(spark: SparkSession, dir: String): DataFrame = {
    val pdcols = (0 until nSub).map(s =>
      s"${l2sqRange("qv", "cv", s * subDim, subDim, SparkD)} AS pd$s")
    queriesOf(vecs(spark, dir))
      .selectExpr("vec_id AS query_id", "v AS qv")
      .crossJoin(broadcast(pqCents(spark, dir)))
      .selectExpr(Seq("query_id", "code") ++ pdcols: _*)
      .selectExpr("query_id", "code",
        s"posexplode(array(${(0 until nSub).map("pd" + _).mkString(", ")})) AS (subspace, pd)")
  }

  /** ADC scoring: `lookups` holds one `(subspace, pd)` table lookup per
    * subspace for every `(query_id, vec_id, <carried>)` candidate. The
    * per-subspace partials are pivoted into columns and `adist` is
    * their fixed-order sum, never an arrival-order float agg; ranked
    * per query by adist asc, vec_id asc, top [[topK]] kept. */
  private def adcTopK(lookups: DataFrame, carried: Seq[String] = Nil): DataFrame = {
    val keys = Seq("query_id", "vec_id") ++ carried
    val pds = (0 until nSub).map(s =>
      sum(when(col("subspace") === s, col("pd"))).as(s"pd$s"))
    val w = Window.partitionBy("query_id").orderBy(asc("adist"), asc("vec_id"))
    lookups.groupBy(keys.map(col): _*)
      .agg(pds.head, pds.tail: _*)
      .selectExpr(keys :+ s"${(0 until nSub).map("pd" + _).mkString(" + ")} AS adist": _*)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
      .select((keys ++ Seq("rank", "adist")).map(col): _*)
      .orderBy("query_id", "rank")
  }

  /** ADC (asymmetric distance computation) top-k over the PQ index:
    * each query precomputes its distance table ([[adcTable]]), and
    * every corpus vector's approximate distance is then [[nSub]] table
    * lookups and a fixed-order sum: an equi-join of the codes relation
    * on (subspace, code). The corpus side never touches a full vector
    * at query time — the whole point of PQ at scale. */
  def pqAdcTopK(spark: SparkSession, dir: String): DataFrame =
    adcTopK(pqCodesDf(spark, dir)
      .join(broadcast(adcTable(spark, dir)), Seq("subspace", "code"))
      .filter(col("vec_id") =!= col("query_id")))

  /** CTE chain ending in `pq_adc(query_id, vec_id, rank, adist)`. */
  private def pqAdcCtes(d: Dialect): String = {
    val pdcols = (0 until nSub).map(s =>
      s"${l2sqRange("e.v", "c.cv", s * subDim, subDim, d)} AS pd$s").mkString(", ")
    val pick = (0 until nSub - 1).map(s => s"WHEN $s THEN pd$s").mkString(" ")
    val partials = (0 until nSub).map(s =>
      s"sum(CASE WHEN cd.subspace = $s THEN q.pd END) AS pd$s").mkString(", ")
    s"""pq_qd AS (SELECT e.vec_id AS query_id, c.code, $pdcols
          FROM e CROSS JOIN pq_cents c WHERE e.vec_id < $nQueries),
        pq_qlong AS (SELECT query_id, code, t.subspace,
            CASE t.subspace $pick ELSE pd${nSub - 1} END AS pd
          FROM pq_qd CROSS JOIN range(0, $nSub) t(subspace)),
        pq_part AS (SELECT q.query_id, cd.vec_id, $partials
          FROM pq_codes cd JOIN pq_qlong q
            ON cd.subspace = q.subspace AND cd.code = q.code
          WHERE cd.vec_id <> q.query_id
          GROUP BY q.query_id, cd.vec_id),
        pq_adc AS (SELECT query_id, vec_id,
            row_number() OVER (PARTITION BY query_id
              ORDER BY pd0 + pd1 + pd2 + pd3, vec_id) AS rank,
            pd0 + pd1 + pd2 + pd3 AS adist
          FROM pq_part)"""
  }

  val pqAdcTopKOracle: String =
    s"""WITH ${vecsCte(DuckD)},
        ${pqCtes(DuckD)},
        ${pqAdcCtes(DuckD)}
        SELECT query_id, vec_id, rank, adist FROM pq_adc
        WHERE rank <= $topK ORDER BY query_id, rank"""

  /** Recall@k of the PQ tiers against EXACT squared-L2 brute force —
    * truth uses the same metric the quantizer approximates, so the
    * number isolates quantization (and, for the composed tier, cell-
    * restriction) loss rather than an L2-vs-cosine metric mismatch.
    * Two rows — the unrestricted ADC scan and the IVFADC composition —
    * so the recall COST of bounding candidates by cell is a first-
    * class, oracle-checked number. Integer counting keeps the recall
    * doubles bit-exact. */
  def pqRecall(spark: SparkSession, dir: String): DataFrame = {
    val all = vecs(spark, dir)
    val q = queriesOf(all).selectExpr("vec_id AS query_id", "v AS qv")
    val w = Window.partitionBy("query_id").orderBy(asc("l2"), asc("vec_id"))
    // cut: both PQ tiers' audits read this brute-force L2 pass
    val truth = graft.ops.Checkpoints.cut(
      all.join(broadcast(q), col("vec_id") =!= col("query_id"))
        .selectExpr("query_id", "vec_id",
          s"${l2sqRange("qv", "v", 0, embeddingDims, SparkD)} AS l2")
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= topK)
        .select("query_id", "vec_id"))
    recallByTier(truth, "tier", Seq(
      lit("pq_adc") -> pqAdcTopK(spark, dir),
      lit("ivfpq_adc") -> ivfPqTopK(spark, dir)))
  }

  private def recallRowSql(tier: String, rel: String): String =
    s"""SELECT '$tier' AS tier, count(*) AS n_true,
          CAST(coalesce(sum(CASE WHEN EXISTS (SELECT 1 FROM $rel r
            WHERE r.query_id = t.query_id AND r.vec_id = t.vec_id
              AND r.rank <= $topK)
            THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_hit,
          CASE WHEN count(*) > 0 THEN
            coalesce(sum(CASE WHEN EXISTS (SELECT 1 FROM $rel r
              WHERE r.query_id = t.query_id AND r.vec_id = t.vec_id
                AND r.rank <= $topK)
              THEN 1 ELSE 0 END), 0) / CAST(count(*) AS DOUBLE)
            ELSE CAST(0 AS DOUBLE) END AS recall_at_k
        FROM l2_truth t"""

  val pqRecallOracle: String =
    s"""WITH ${ivfCte(DuckD)},
        ${pqCtes(DuckD)},
        ${pqAdcCtes(DuckD)},
        $ivfPqCtes,
        l2_scored AS (SELECT q.vec_id AS query_id, e.vec_id,
            ${l2sqRange("q.v", "e.v", 0, embeddingDims, DuckD)} AS l2
          FROM e CROSS JOIN e q
          WHERE q.vec_id < $nQueries AND e.vec_id <> q.vec_id),
        l2_truth AS (SELECT query_id, vec_id FROM l2_scored
          QUALIFY row_number() OVER (PARTITION BY query_id
            ORDER BY l2, vec_id) <= $topK)
        ${recallRowSql("pq_adc", "pq_adc")}
        UNION ALL
        ${recallRowSql("ivfpq_adc", "ivfpq_adc")}
        ORDER BY tier"""

  val lshTopKOracle: String =
    s"""WITH ${vecsCte(DuckD)},
        bkt AS (SELECT vec_id, v, nrm, CAST(${lshBucket("v", nPlanes, DuckD)} AS INTEGER) AS bucket FROM e),
        q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qnrm, bucket FROM bkt WHERE vec_id < $nQueries),
        scored AS (SELECT q.query_id, b.vec_id, b.bucket,
                     ${cosineWithNorms("q.qv", "b.v", "q.qnrm", "b.nrm", DuckD)} AS cosine
                   FROM bkt b JOIN q ON b.bucket = q.bucket AND b.vec_id <> q.query_id),
        ranked AS (SELECT *, row_number() OVER
                     (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rank
                   FROM scored)
        SELECT query_id, vec_id, bucket, rank, cosine FROM ranked
        WHERE rank <= $topK ORDER BY query_id, rank"""

  // ---- IVF + PQ composed (IVFADC) ----

  /** IVFADC — the two tiers composed the way a production vector index
    * runs them (Jégou/Douze/Schmid 2011): the IVF coarse quantizer
    * bounds the CANDIDATE SET (an equi-join on the query's cell — only
    * that cell's vectors are scored at all), and ADC scores those
    * candidates from their PQ codes (an equi-join on (query, subspace,
    * code) against the broadcast distance table + a fixed-order
    * 4-lookup sum). At query time no full corpus vector is touched:
    * candidate generation reads cell ids, scoring reads codes — which
    * is why the shape holds at 100 TB: cells bound the work, codes
    * bound the bytes. Both index relations (cell assignment, codes)
    * are session-cached builds shared with the standalone IVF and PQ
    * tiers; the scoring is [[adcTopK]], as in [[pqAdcTopK]]. */
  def ivfPqTopK(spark: SparkSession, dir: String): DataFrame = {
    val assigned = ivfAssigned(spark, dir)
    val cands = assigned.select("vec_id", "cell")
      .join(broadcast(queriesOf(assigned).selectExpr("vec_id AS query_id", "cell")),
        Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
    adcTopK(pqCodesDf(spark, dir)
      .join(cands, Seq("vec_id"))
      .join(broadcast(adcTable(spark, dir)), Seq("query_id", "subspace", "code")),
      Seq("cell"))
  }

  /** CTE chain ending in `ivfpq_adc(query_id, vec_id, cell, rank,
    * adist)` — requires `assigned` (ivfCte), `pq_codes` (pqCtes) and
    * `pq_qlong` (pqAdcCtes) upstream. */
  private def ivfPqCtes: String =
    s"""ivfpq_qc AS (SELECT vec_id AS query_id, cell FROM assigned
          WHERE vec_id < $nQueries),
        ivfpq_cand AS (SELECT qc.query_id, a.vec_id, a.cell
          FROM assigned a JOIN ivfpq_qc qc ON a.cell = qc.cell
          WHERE a.vec_id <> qc.query_id),
        ivfpq_part AS (SELECT cd2.query_id, cd2.vec_id, cd2.cell,
            ${(0 until nSub).map(s =>
              s"sum(CASE WHEN cd2.subspace = $s THEN cd2.pd END) AS pd$s")
              .mkString(", ")}
          FROM (SELECT cand.query_id, cand.vec_id, cand.cell,
                  cd.subspace, q.pd
                FROM ivfpq_cand cand
                JOIN pq_codes cd ON cd.vec_id = cand.vec_id
                JOIN pq_qlong q ON q.query_id = cand.query_id
                  AND q.subspace = cd.subspace AND q.code = cd.code) cd2
          GROUP BY cd2.query_id, cd2.vec_id, cd2.cell),
        ivfpq_adc AS (SELECT query_id, vec_id, cell,
            row_number() OVER (PARTITION BY query_id
              ORDER BY pd0 + pd1 + pd2 + pd3, vec_id) AS rank,
            pd0 + pd1 + pd2 + pd3 AS adist
          FROM ivfpq_part)"""

  val ivfPqTopKOracle: String =
    s"""WITH ${ivfCte(DuckD)},
        ${pqCtes(DuckD)},
        ${pqAdcCtes(DuckD)},
        $ivfPqCtes
        SELECT query_id, vec_id, cell, rank, adist FROM ivfpq_adc
        WHERE rank <= $topK ORDER BY query_id, rank"""

  // ---- corpus-wide kNN graph + semantic clusters ----

  private val knnK = 3
  private val semanticTau = 0.3

  /** kNN graph over the WHOLE corpus (not just the 5 query vectors):
    * every vector's `knnK` nearest in-cell neighbors by cosine. The
    * graph is the substrate for semantic dedup, diversity selection
    * and label propagation. Candidate generation is the IVF cell
    * equi-join — per-cell self-joins bound work at occupancy² per
    * cell, so with the centroid count grown ~√n (the standard IVF
    * sizing) the total stays ~n·occupancy instead of n². Nothing is
    * broadcast here: both sides are the same cell-partitioned
    * relation, so Spark shuffles on cell once and joins co-located —
    * the shape that survives any corpus size.
    *
    * Cf. reference behavior scope: the reference has no vector tier;
    * this extends the engine's LLM-curation surface
    * (SURVEY.md §training-data ops). */
  private def knnEdges(spark: SparkSession, dir: String): DataFrame =
    graft.PlanCache(spark, "ann_knn_edges", dir) {
      val a = ivfAssigned(spark, dir).select("vec_id", "v", "nrm", "cell")
      val b = a.selectExpr(
        "vec_id AS nbr_id", "v AS nv", "nrm AS nnrm", "cell")
      val w = Window.partitionBy("vec_id").orderBy(desc("cosine"), asc("nbr_id"))
      a.join(b, Seq("cell"))
        .filter(col("vec_id") =!= col("nbr_id"))
        .selectExpr("vec_id", "nbr_id", "cell",
          s"${cosineWithNorms("v", "nv", "nrm", "nnrm", SparkD)} AS cosine")
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= knnK)
        .select("vec_id", "nbr_id", "cell", "rank", "cosine")
    }

  def knnGraph(spark: SparkSession, dir: String): DataFrame =
    knnEdges(spark, dir).orderBy("vec_id", "rank")

  /** CTE chain ending in `knn(vec_id, nbr_id, cell, rank, cosine)` —
    * requires `assigned` (ivfCte) upstream. */
  private def knnCtes: String =
    s"""knn_scored AS (SELECT a.vec_id, b.vec_id AS nbr_id, a.cell,
          ${cosineWithNorms("a.v", "b.v", "a.nrm", "b.nrm", DuckD)} AS cosine
        FROM assigned a JOIN assigned b
          ON a.cell = b.cell AND a.vec_id <> b.vec_id),
        knn AS (SELECT vec_id, nbr_id, cell, rank, cosine FROM (
          SELECT *, row_number() OVER (PARTITION BY vec_id
            ORDER BY cosine DESC, nbr_id) AS rank FROM knn_scored)
          WHERE rank <= $knnK)"""

  val knnGraphOracle: String =
    s"""WITH ${ivfCte(DuckD)},
        $knnCtes
        SELECT vec_id, nbr_id, cell, rank, cosine FROM knn
        ORDER BY vec_id, rank"""

  /** Semantic near-dup clusters: connected components over MUTUAL-kNN
    * edges above cosine `semanticTau`. Mutual-kNN (a lists b AND b
    * lists a) is the standard sparsifier for embedding-space
    * clustering — an asymmetric hub vector can appear in thousands of
    * kNN lists, but it reciprocates at most `knnK` of them, so the
    * edge set is ≤ k·n/2 by construction and components stay tight.
    * Components come from the same min-label propagation
    * (pointer-jumping, checksum-converged) as the MinHash cluster
    * tier — one propagation engine serving both the lexical and the
    * semantic dedup signals. Every vector is emitted: singletons
    * label themselves, `is_clustered` distinguishes them. */
  def semanticClusters(spark: SparkSession, dir: String): DataFrame = {
    val fwd = knnEdges(spark, dir).select("vec_id", "nbr_id", "cosine")
    val mutual = fwd.as("x").join(fwd.as("y"),
        col("x.vec_id") === col("y.nbr_id")
          && col("x.nbr_id") === col("y.vec_id")
          && col("x.vec_id") < col("x.nbr_id"))
      .filter(col("x.cosine") >= semanticTau)
      .select(col("x.vec_id").as("doc_a"), col("x.nbr_id").as("doc_b"))
    // session-cached: the propagation loop is the expensive part and
    // has two consumers (this readout and the cluster-topic labeling)
    val labels = graft.PlanCache(spark, "semantic_labels", dir) {
      Dedup.propagateLabels(mutual).withColumnRenamed("doc_id", "vec_id")
    }
    vecs(spark, dir).select("vec_id", "label")
      .join(labels, Seq("vec_id"), "left")
      .selectExpr("vec_id", "label",
        "coalesce(cluster_id, vec_id) AS cluster_id",
        "CAST(cluster_id IS NOT NULL AS INTEGER) AS is_clustered")
      .orderBy("vec_id")
  }

  /** Shared CTE chain ending in `slbl(vec_id, cluster_id)` — the
    * transitive closure of the mutual-kNN graph (needs WITH RECURSIVE
    * and ivfCte + knnCtes upstream); reused by the semantic-prune
    * ledger oracle. */
  private[graft] def semanticLabelCtes: String =
    s"""mutual AS (SELECT x.vec_id AS doc_a, x.nbr_id AS doc_b
          FROM knn x JOIN knn y
            ON x.vec_id = y.nbr_id AND x.nbr_id = y.vec_id
          WHERE x.vec_id < x.nbr_id AND x.cosine >= $semanticTau),
        sedges AS (SELECT doc_a AS src, doc_b AS dst FROM mutual
          UNION ALL SELECT doc_b, doc_a FROM mutual),
        sreach(src, dst) AS (
          SELECT src, dst FROM sedges
          UNION
          SELECT r.src, e2.dst FROM sreach r JOIN sedges e2 ON r.dst = e2.src),
        slbl AS (SELECT src AS vec_id, least(src, min(dst)) AS cluster_id
          FROM sreach GROUP BY src)"""

  val semanticClustersOracle: String =
    s"""WITH RECURSIVE ${ivfCte(DuckD)},
        $knnCtes,
        $semanticLabelCtes
        SELECT e.vec_id, e.label,
          coalesce(l.cluster_id, e.vec_id) AS cluster_id,
          CAST(l.cluster_id IS NOT NULL AS INTEGER) AS is_clustered
        FROM e LEFT JOIN slbl l ON e.vec_id = l.vec_id
        ORDER BY e.vec_id"""

  /** SemDeDup-style semantic pruning ledger (Abbas et al. 2023,
    * "SemDeDup: Data-efficient learning at web-scale through semantic
    * deduplication"): within each mutual-kNN semantic cluster keep ONE
    * canonical document (longest text, doc_id tie-break — the length
    * proxy every curation pass starts from) and account the rest as
    * pruned, per source. The keeper pick is a map-side-combined
    * struct-min aggregate, NOT a window: a viral boilerplate cluster
    * would make a window partition hot, while min() partials collapse
    * it per partition before the shuffle (the same skew discipline as
    * [[graft.llm.Dedup.propagateLabels]]). Output: per-source doc and
    * char counts, kept/pruned splits, and the prune rate. */
  def semanticPrune(spark: SparkSession, dir: String): DataFrame = {
    val clusters = semanticClusters(spark, dir)
      .select(col("vec_id").as("doc_id"), col("cluster_id"))
    val docs = Tables.documents(spark, dir).select("doc_id", "source", "n_chars")
    val j = clusters.join(docs, Seq("doc_id"))
    val keepers = j.groupBy("cluster_id")
      .agg(min(struct((-col("n_chars")).as("neg"), col("doc_id").as("doc_id")))
        .as("k"))
      .select(col("k.doc_id").as("doc_id"), lit(1).as("is_keeper"))
    j.join(keepers, Seq("doc_id"), "left")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        coalesce(sum("is_keeper"), lit(0L)).cast("long").as("n_kept"),
        sum("n_chars").cast("long").as("chars_total"),
        sum(when(col("is_keeper").isNull, col("n_chars")).otherwise(0L))
          .cast("long").as("chars_pruned"))
      .selectExpr("source", "n_docs", "n_kept",
        "n_docs - n_kept AS n_pruned", "chars_total", "chars_pruned",
        "(n_docs - n_kept) / CAST(n_docs AS DOUBLE) AS prune_rate")
      .orderBy("source")
  }

  val semanticPruneOracle: String =
    s"""WITH RECURSIVE ${ivfCte(DuckD)},
        $knnCtes,
        $semanticLabelCtes,
        pj AS MATERIALIZED (SELECT e.vec_id AS doc_id,
            coalesce(l.cluster_id, e.vec_id) AS cluster_id
          FROM e LEFT JOIN slbl l ON e.vec_id = l.vec_id),
        pd AS MATERIALIZED (SELECT pj.doc_id, pj.cluster_id, d.source, d.n_chars
          FROM pj JOIN documents d ON d.doc_id = pj.doc_id),
        pk AS MATERIALIZED (SELECT doc_id FROM (SELECT doc_id, row_number() OVER (
            PARTITION BY cluster_id ORDER BY n_chars DESC, doc_id) AS rk
          FROM pd) WHERE rk = 1),
        pg AS (SELECT pd.source, count(*) AS n_docs,
            CAST(sum(CASE WHEN pk.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
            CAST(sum(pd.n_chars) AS BIGINT) AS chars_total,
            CAST(sum(CASE WHEN pk.doc_id IS NULL THEN pd.n_chars ELSE 0 END) AS BIGINT) AS chars_pruned
          FROM pd LEFT JOIN pk ON pd.doc_id = pk.doc_id
          GROUP BY pd.source)
        SELECT source, n_docs, n_kept, n_docs - n_kept AS n_pruned,
          chars_total, chars_pruned,
          (n_docs - n_kept) / CAST(n_docs AS DOUBLE) AS prune_rate
        FROM pg ORDER BY source"""

  // ---- preference-pair construction from semantic clusters ----

  /** `corpus_preference_pairs`: chosen/rejected training-pair
    * construction — the reward-model/DPO data shape: two documents
    * that say nearly the same thing (same mutual-kNN semantic
    * cluster) but differ in quality make a natural preference pair,
    * with the quality gap as the margin for margin-weighted losses.
    * Per cluster: chosen = highest [[graft.llm.TextAnalysis]] quality
    * score (doc_id tie-break low), rejected = lowest (tie-break HIGH,
    * so a fully-tied cluster still yields a distinct pair), margin =
    * the score gap.
    *
    * Shape: the cluster relation (clustered docs only — tiny next to
    * the corpus) equi-joins the per-doc quality projection, then BOTH
    * extremes come from one map-side-combined struct-min/max
    * aggregate — no window, so a viral boilerplate cluster can't make
    * a partition hot (same discipline as [[semanticPrune]]'s keeper
    * pick). The margin subtraction is the only double op and is
    * identical text on both engines. */
  def preferencePairs(spark: SparkSession, dir: String): DataFrame = {
    val clusters = semanticClusters(spark, dir)
      .filter(col("is_clustered") === 1)
      .select(col("vec_id").as("doc_id"), col("cluster_id"))
    val quality = graft.llm.TextAnalysis.statsRelation(spark, dir)
      .select("doc_id", "quality_score")
    clusters.join(quality, Seq("doc_id"))
      .groupBy("cluster_id")
      .agg(
        max(struct(col("quality_score").as("q"), (-col("doc_id")).as("negid")))
          .as("best"),
        min(struct(col("quality_score").as("q"), (-col("doc_id")).as("negid")))
          .as("worst"),
        count(lit(1)).as("cluster_size"))
      .filter(col("cluster_size") >= 2)
      .selectExpr("cluster_id",
        "-best.negid AS chosen_id", "-worst.negid AS rejected_id",
        "best.q AS q_chosen", "worst.q AS q_rejected",
        "best.q - worst.q AS margin",
        "CAST(cluster_size AS BIGINT) AS cluster_size")
      .orderBy("cluster_id")
  }

  val preferencePairsOracle: String =
    s"""WITH RECURSIVE ${ivfCte(DuckD)},
        $knnCtes,
        $semanticLabelCtes,
        ${graft.llm.TextAnalysis.statsCtes},
        jq AS MATERIALIZED (SELECT l.cluster_id, l.vec_id AS doc_id,
            s.quality_score
          FROM slbl l JOIN stats s ON s.doc_id = l.vec_id),
        ch AS (SELECT cluster_id, doc_id AS chosen_id,
            quality_score AS q_chosen
          FROM jq QUALIFY row_number() OVER (PARTITION BY cluster_id
            ORDER BY quality_score DESC, doc_id) = 1),
        rj AS (SELECT cluster_id, doc_id AS rejected_id,
            quality_score AS q_rejected
          FROM jq QUALIFY row_number() OVER (PARTITION BY cluster_id
            ORDER BY quality_score ASC, doc_id DESC) = 1),
        cs AS (SELECT cluster_id, count(*) AS cluster_size
          FROM jq GROUP BY cluster_id)
        SELECT ch.cluster_id, chosen_id, rejected_id, q_chosen, q_rejected,
          q_chosen - q_rejected AS margin,
          CAST(cs.cluster_size AS BIGINT) AS cluster_size
        FROM ch JOIN rj ON rj.cluster_id = ch.cluster_id
        JOIN cs ON cs.cluster_id = ch.cluster_id
        WHERE cs.cluster_size >= 2
        ORDER BY ch.cluster_id"""

  // ---- greedy facility-location coverage selection ----

  private val coverBudget = 64
  private val coverK = 6

  /** Deterministic fixed-budget candidate key: a pure-integer mix both
    * engines compute identically (pre-mod keeps every product below
    * 2^63 for vec_ids up to any realistic corpus size). The candidate
    * set is the [[coverBudget]] smallest (hkey, vec_id) — a top-k, so
    * the selection is O(budget) driver/broadcast memory AT ANY CORPUS
    * SIZE, unlike the earlier proportional 1-in-50 sample whose
    * broadcast grew with the corpus. The candidate set is part of the
    * query DEFINITION: the oracle computes the same key. */
  private[graft] val coverHkey: String =
    "((vec_id % 1048576) * 2654435761 + vec_id % 97) % 4294967296"

  /** `corpus_coverage_selection`: greedy facility-location
    * maximization — pick [[coverK]] exemplar vectors whose summed
    * best-coverage Σ_v max_{s∈S} sim(v, s) over the WHOLE corpus is
    * within the greedy (1−1/e) bound of maximal — the coreset/data-
    * selection shape
    * (CRAIG-family): "which k documents best represent the corpus",
    * the complement of MMR (which diversifies a QUERY's result, not
    * the corpus). Candidates are the fixed-size deterministic
    * [[coverBudget]] sample (see [[coverHkey]] — a TakeOrdered, never
    * a corpus-proportional broadcast); the (vector × candidate)
    * similarity relation is staged ONCE, PIVOTED to one row per
    * vector (`smap`: a budget-sized cand_id→sim map — O(budget)
    * bytes/row at any corpus size). The pivot makes coverage a
    * per-row EXPRESSION, not state: cov(v) = max over picked p of
    * smap[p], recomputed from the ≤k picked ids inlined as literals
    * (r14 — the pick state is O(k) driver rows, so no broadcast
    * relation and no per-round lineage cut exist at all), so a
    * greedy round is exactly ONE job: corpus pass → explode +
    * map-side-combined marginal-gain agg (Σ max(sim − cov, 0)) to
    * budget-many rows → struct-min argmax (r12 shape joined sims⋈cov
    * at corpus grain per round and rewrote the cov relation per
    * round — 2 corpus-grain shuffles a round this formulation never
    * does). Submodularity makes marginal gains non-increasing — the
    * spec pins that as the algebraic invariant, and
    * CoverageGreedySpec pins the whole greedy trace against an
    * independent in-memory reference on a fixture. */
  def coverageSelection(spark: SparkSession, dir: String): DataFrame = {
    val all = vecs(spark, dir)
    // r14: the candidate set is budget-bounded BY DEFINITION, so
    // collect the 64 candidate vectors (TakeOrdered, driver-bounded at
    // any corpus size) and inline them as CONSTANT array literals in
    // the smap projection. The r13 shape built smap via a broadcast
    // join + corpus-grain groupBy(collect_list) — a full corpus
    // SHUFFLE; this one is a single narrow map pass straight into the
    // checkpoint (guide §2.4: remove shuffles outright). Doubles
    // round-trip exactly through Double.toString → CAST(str AS DOUBLE)
    // (both are shortest-repr parse), and the per-pair arithmetic text
    // is unchanged (graft_dot(v, cv) / (nrm * cnrm) — same sequential
    // fold), so every sim_nano is bit-identical to the join form.
    val candRows = all
      .selectExpr("vec_id", "v", "nrm", s"$coverHkey AS hkey")
      .orderBy("hkey", "vec_id").limit(coverBudget)
      .selectExpr("vec_id", "v", "nrm")
      .collect()
    def dlit(x: Double): String = s"CAST('$x' AS DOUBLE)"
    val entries = candRows.map { r =>
      val cv = r.getSeq[Double](1).map(dlit).mkString("array(", ",", ")")
      s"named_struct('key', ${r.getLong(0)}L, 'value', " +
        s"CAST(round((${cosineWithNorms("v", cv, "nrm", dlit(r.getDouble(2)), SparkD)}) * 1e9) AS BIGINT))"
    }.mkString("array(", ",", ")")
    // the self pair stays excluded (the join form's vec_id <> cand_id)
    val state = all
      .selectExpr("vec_id",
        s"map_from_entries(filter($entries, e -> e.key != vec_id)) AS smap")
      .transform(graft.ops.Checkpoints.cut)
    // max over picked of this row's sim to the pick, CLAMPED AT 0 —
    // coverage starts at 0 (the empty-set baseline), so an all-
    // negative-sim pick set covers nothing rather than anti-covering
    // (the r12 state formulation had this implicitly via
    // greatest(cov, …) from a 0-initialized relation); 0 likewise
    // before any pick and for vectors outside a pick's sim map (the
    // self pair). The greedy's only cross-round state is ≤ coverK
    // (cand_id, gain) rows, a DRIVER-BOUNDED O(k) collect at any
    // corpus size (the multimodal-ahash ≤65-row precedent), so a
    // round is exactly ONE job — corpus pass + 64-group map-side agg.
    // The 6 corpus passes themselves are the floor: greedy round
    // r+1's gains depend on round r's global argmax.
    //
    // Picked ids appear as BIGINT LITERALS (a one-row LocalRelation
    // broadcast was tried for codegen-cache reuse across rounds and
    // measured WORSE — the BroadcastNestedLoopJoin breaks whole-stage
    // fusion; 3.3-3.4 s vs 2.9-3.0 s literal at sf0.1).
    def covExprOf(ids: Seq[Long]): String =
      if (ids.isEmpty) "0L"
      else "greatest(0L, coalesce(array_max(transform(array(" +
        ids.map(_ + "L").mkString(",") + "), p -> element_at(smap, p))), 0L))"
    var picked = Vector.empty[(Long, Long)] // (cand_id, gain_nano)
    for (_ <- 1 to coverK) {
      val ids = picked.map(_._1)
      // picked candidates' map entries drop out PRE-agg: their groups
      // never form, which equals the r13 post-agg anti-join (groups
      // are per cand_id) while shuffling 6 fewer groups
      val notPicked = if (ids.isEmpty) "true"
        else s"key NOT IN (${ids.map(_ + "L").mkString(",")})"
      // argmax over the ≤budget gain rows happens ON THE DRIVER (r14):
      // collecting 64 rows costs the same as collecting the 1-row
      // argmax, and it drops the struct-min re-aggregation (one fewer
      // exchange + AQE stage per round). Tie-break identical to the
      // min(struct(-gain, cand_id)) it replaces: gain desc, cand asc.
      val pick = state
        .selectExpr(s"${covExprOf(ids)} AS cov", "smap")
        .select(col("cov"), explode(col("smap")))
        .where(notPicked)
        .selectExpr("key AS cand_id", "greatest(value - cov, 0L) AS g")
        .groupBy("cand_id").agg(sum("g").as("gain"))
        .collect()
        .map(row => (row.getLong(0), row.getLong(1)))
        .minBy { case (c, g) => (-g, c) }
      picked :+= ((pick._1, pick._2))
    }
    // total coverage = Σ marginal gains, EXACTLY: per row the clamped
    // coverage is ≥ 0 and new_cov = max(cov, s) = cov + max(s − cov, 0),
    // so each round's gain aggregate IS the integer increase of
    // Σ_v cov(v) from the empty-set 0 — no final corpus pass needed
    val total = picked.map(_._2).sum
    picked.zipWithIndex.map { case ((id, gain), i) =>
      spark.range(1).selectExpr(s"CAST(${i + 1} AS INT) AS rank",
        s"${id}L AS vec_id", s"${gain}L AS gain_nano",
        s"${total}L AS total_cov_nano")
    }.reduce(_ unionByName _).orderBy("rank")
  }

  /** One greedy-round CTE triple for the oracle (gains over
    * non-picked candidates, argmax pick, coverage update);
    * MATERIALIZED state CTEs — each fans out to the next round twice. */
  private def coverRoundCte(r: Int): String = {
    val notPicked = if (r == 1) ""
      else s"""WHERE NOT EXISTS (SELECT 1 FROM picks_${r - 1} p
                WHERE p.cand_id = s.cand_id)"""
    val prevPicks = if (r == 1) s"pick_$r"
      else s"(SELECT * FROM picks_${r - 1} UNION ALL SELECT cand_id FROM pick_$r)"
    s"""gain_$r AS (SELECT s.cand_id,
            CAST(sum(greatest(s.sim_nano - c.cov, 0)) AS BIGINT) AS gain
          FROM csims s JOIN cov_${r - 1} c ON s.vec_id = c.vec_id
          $notPicked
          GROUP BY s.cand_id),
        pick_$r AS MATERIALIZED (SELECT cand_id, CAST($r AS INTEGER) AS rank,
            gain AS gain_nano
          FROM (SELECT *, row_number() OVER (ORDER BY gain DESC, cand_id) AS rn
                FROM gain_$r) z WHERE rn = 1),
        picks_$r AS MATERIALIZED (SELECT cand_id FROM $prevPicks),
        cov_$r AS MATERIALIZED (SELECT c.vec_id,
            greatest(c.cov, coalesce(s.sim_nano, 0)) AS cov
          FROM cov_${r - 1} c
          LEFT JOIN (SELECT s2.vec_id, s2.sim_nano FROM csims s2
                     JOIN pick_$r p ON s2.cand_id = p.cand_id) s
            ON c.vec_id = s.vec_id)"""
  }

  lazy val coverageSelectionOracle: String = {
    val rounds = (1 to coverK).map(coverRoundCte).mkString(",\n        ")
    val unionPicks = (1 to coverK).map(r => s"SELECT * FROM pick_$r")
      .mkString(" UNION ALL ")
    s"""WITH ${vecsCte(DuckD)},
        cand AS (SELECT vec_id AS cand_id, v AS cv, nrm AS cnrm
                 FROM (SELECT *, $coverHkey AS hkey FROM e
                       ORDER BY hkey, vec_id LIMIT $coverBudget) zc),
        csims AS MATERIALIZED (SELECT e.vec_id, c.cand_id,
            CAST(round((${cosineWithNorms("e.v", "c.cv", "e.nrm", "c.cnrm", DuckD)}) * 1e9) AS BIGINT) AS sim_nano
          FROM e JOIN cand c ON e.vec_id <> c.cand_id),
        cov_0 AS (SELECT vec_id, CAST(0 AS BIGINT) AS cov FROM e),
        $rounds,
        allp AS ($unionPicks),
        tot AS (SELECT CAST(sum(cov) AS BIGINT) AS total_cov_nano
                FROM cov_$coverK)
        SELECT rank, cand_id AS vec_id, gain_nano, total_cov_nano
        FROM allp CROSS JOIN tot ORDER BY rank"""
  }

  // ---- clustering-quality readout: Newman modularity ----

  /** `dedup_semantic_modularity`: Newman modularity Q of the semantic
    * cluster assignment, evaluated over the UNDIRECTED union of all
    * kNN edges — deliberately a superset of the mutual-kNN edges the
    * clustering was built from, so Q measures how much of the full
    * neighborhood structure the partition explains rather than
    * grading the clustering on its own inputs. Q = Σ_c (e_c/m −
    * (d_c/2m)²) computed from exact integer counts (m, intra-edge
    * count, Σ d_c²) with one shared IEEE readout tree; Σ d_c² stays a
    * BIGINT (safe while total degree < 2³¹·√clusters — at the scale
    * where one cluster's degree sum approaches 2³¹, quantize to the
    * DOUBLE-product form used by the association-rule lift). Plan:
    * edge canonicalize + distinct, two label equi-joins, degree agg,
    * then two one-row aggregates cross-joined — nothing data-sized is
    * broadcast or windowed. */
  def semanticModularity(spark: SparkSession, dir: String): DataFrame = {
    val und = knnEdges(spark, dir)
      .selectExpr("least(vec_id, nbr_id) AS u", "greatest(vec_id, nbr_id) AS v")
      .distinct()
    val lbl = semanticClusters(spark, dir).select("vec_id", "cluster_id")
    val eAgg = und
      .join(lbl.selectExpr("vec_id AS u", "cluster_id AS cu"), Seq("u"))
      .join(lbl.selectExpr("vec_id AS v", "cluster_id AS cv"), Seq("v"))
      .agg(count(lit(1)).as("n_edges"),
        sum(expr("CASE WHEN cu = cv THEN 1 ELSE 0 END")).as("intra_edges"))
    val dAgg = und.selectExpr("u AS vec_id").unionAll(und.selectExpr("v AS vec_id"))
      .groupBy("vec_id").agg(count(lit(1)).as("deg"))
      .join(lbl, Seq("vec_id"))
      .groupBy("cluster_id").agg(sum("deg").as("d_c"))
      .agg(count(lit(1)).as("n_clusters"),
        sum(expr("d_c * d_c")).as("sum_deg_sq"))
    eAgg.crossJoin(broadcast(dAgg))
      .selectExpr("CAST(n_edges AS BIGINT) AS n_edges",
        "CAST(intra_edges AS BIGINT) AS intra_edges",
        "CAST(n_clusters AS BIGINT) AS n_clusters",
        "CAST(sum_deg_sq AS BIGINT) AS sum_deg_sq",
        "(CAST(4 AS DOUBLE) * n_edges * intra_edges - sum_deg_sq) / (CAST(4 AS DOUBLE) * n_edges * n_edges) AS modularity")
  }

  val semanticModularityOracle: String =
    s"""WITH RECURSIVE ${ivfCte(DuckD)},
        $knnCtes,
        $semanticLabelCtes,
        lbl AS MATERIALIZED (SELECT e.vec_id,
            coalesce(l.cluster_id, e.vec_id) AS cluster_id
          FROM e LEFT JOIN slbl l ON e.vec_id = l.vec_id),
        und AS MATERIALIZED (SELECT DISTINCT least(vec_id, nbr_id) AS u,
            greatest(vec_id, nbr_id) AS v FROM knn),
        ea AS (SELECT count(*) AS n_edges,
            CAST(sum(CASE WHEN la.cluster_id = lb.cluster_id THEN 1 ELSE 0 END) AS BIGINT) AS intra_edges
          FROM und JOIN lbl la ON und.u = la.vec_id
                   JOIN lbl lb ON und.v = lb.vec_id),
        degs AS (SELECT vec_id, count(*) AS deg FROM (
            SELECT u AS vec_id FROM und UNION ALL SELECT v FROM und) z
          GROUP BY vec_id),
        dc AS (SELECT l.cluster_id, CAST(sum(d.deg) AS BIGINT) AS d_c
               FROM degs d JOIN lbl l ON d.vec_id = l.vec_id
               GROUP BY l.cluster_id),
        da AS (SELECT count(*) AS n_clusters,
                 CAST(sum(d_c * d_c) AS BIGINT) AS sum_deg_sq FROM dc)
        SELECT CAST(ea.n_edges AS BIGINT) AS n_edges, ea.intra_edges,
          CAST(da.n_clusters AS BIGINT) AS n_clusters, da.sum_deg_sq,
          (CAST(4 AS DOUBLE) * ea.n_edges * ea.intra_edges - da.sum_deg_sq) /
            (CAST(4 AS DOUBLE) * ea.n_edges * ea.n_edges) AS modularity
        FROM ea CROSS JOIN da"""

  // ---- embedding-space outliers ----

  private val outlierK = 5

  /** Embedding-space outlier scoring — the curation signal that flags
    * mislabeled / off-distribution documents before training: each
    * label's centroid (exact per-dim quantized-BIGINT mean, the same
    * order-independent construction as [[ivfKmeansStep]]), then every
    * vector's squared L2 distance to its OWN label's centroid, ranked
    * within the label. Plan shape: one posexplode → (label, dim) hash
    * agg (map-side combined; labels × 64 dims rows) → centroid
    * reassembly → broadcast back against the corpus scan → per-label
    * rank window. The centroid relation is labels-sized — broadcast at
    * any corpus scale — and the distance is one codegen'd 64-term
    * expression per row, so the operator is scan-bound at 100 TB. */
  def labelOutliers(spark: SparkSession, dir: String): DataFrame = {
    val e = vecs(spark, dir)
    val cent = e
      .select(col("label"), posexplode(col("v")).as(Seq("dim", "x")))
      .groupBy("label", "dim")
      .agg(count(lit(1)).as("n_members"),
        sum(expr("CAST(round(x * 10000000) AS BIGINT)")).as("qs"))
      .selectExpr("label", "dim",
        "qs / CAST(10000000 AS DOUBLE) / n_members AS mean_x")
      .groupBy("label")
      .agg(expr(
        "transform(sort_array(collect_list(struct(dim, mean_x))), s -> s.mean_x)")
        .as("cv"))
    val w = Window.partitionBy("label").orderBy(desc("dist2"), asc("vec_id"))
    e.join(broadcast(cent), Seq("label"))
      .selectExpr("vec_id", "label",
        s"${l2sqRange("v", "cv", 0, embeddingDims, SparkD)} AS dist2")
      .withColumn("dist_rank", row_number().over(w))
      .withColumn("is_outlier",
        expr(s"CASE WHEN dist_rank <= $outlierK THEN 1 ELSE 0 END"))
      .select("vec_id", "label", "dist2", "dist_rank", "is_outlier")
      .orderBy("vec_id")
  }

  val labelOutliersOracle: String =
    s"""WITH ${vecsCte(DuckD)},
        cent_u AS (SELECT e.label, d.dim, count(*) AS n_members,
            sum(CAST(round(e.v[d.dim + 1] * 10000000) AS BIGINT)) AS qs
          FROM e CROSS JOIN range(0, $embeddingDims) d(dim)
          GROUP BY e.label, d.dim),
        cent_m AS (SELECT label, dim,
            qs / CAST(10000000 AS DOUBLE) / n_members AS mean_x
          FROM cent_u),
        cent AS (SELECT label, list(mean_x ORDER BY dim) AS cv
          FROM cent_m GROUP BY label),
        scored AS (SELECT e.vec_id, e.label,
            ${l2sqRange("e.v", "c.cv", 0, embeddingDims, DuckD)} AS dist2
          FROM e JOIN cent c ON e.label = c.label),
        ranked AS (SELECT *, row_number() OVER (PARTITION BY label
            ORDER BY dist2 DESC, vec_id) AS dist_rank
          FROM scored)
        SELECT vec_id, label, dist2, dist_rank,
          CASE WHEN dist_rank <= $outlierK THEN 1 ELSE 0 END AS is_outlier
        FROM ranked ORDER BY vec_id"""

  // ---- incremental index maintenance ----

  private val batchMod = 10
  private val batchRem = 9

  /** Incremental IVF index maintenance — the production "append a
    * batch to a built index" path. Batch membership follows the
    * [[Dedup.incrementalDedup]] convention (vec_id % 10 == 9); the
    * coarse quantizer is FROZEN (centroids are vec_id % 100 == 0,
    * which is never ≡ 9 mod 10, so they all predate the batch —
    * exactly how a deployed IVF index behaves: appends are assigned
    * under the existing centroids, and the quantizer is only
    * retrained offline). Output is the per-cell maintenance readout:
    * prior occupancy, appended count, new occupancy, and the batch's
    * summed centroid-cosine (nano-quantized to a BIGINT so the sum is
    * order-independent) — the number that says WHERE the index grew
    * and whether the new vectors actually fit their cells (a falling
    * mean assign-cosine is the retrain-the-quantizer signal).
    *
    * Scale shape: both halves reuse the session-cached full
    * assignment ([[ivfAssigned]] — per-vector choices are independent,
    * so assigning the batch under frozen centroids IS the cached
    * assignment restricted to batch rows); the readout is two
    * map-side-combinable aggs on cell id plus a cell-keyed outer join
    * of two centroid-count-sized relations. Nothing rescans the base
    * corpus vectors at append time. */
  def incrementalAssign(spark: SparkSession, dir: String): DataFrame = {
    val assigned = ivfAssigned(spark, dir)
    val old = assigned.filter(col("vec_id") % batchMod =!= batchRem)
      .groupBy("cell").agg(count(lit(1)).as("old_n"))
    val add = assigned.filter(col("vec_id") % batchMod === batchRem)
      .groupBy("cell").agg(count(lit(1)).as("n_added"),
        sum(expr("CAST(round(ccos * 1000000000) AS BIGINT)")).as("sum_ccos_nano"))
    old.join(add, Seq("cell"), "full_outer")
      .selectExpr("cell",
        "CAST(coalesce(old_n, 0) AS BIGINT) AS old_n",
        "CAST(coalesce(n_added, 0) AS BIGINT) AS n_added",
        "CAST(coalesce(old_n, 0) + coalesce(n_added, 0) AS BIGINT) AS new_n",
        "CAST(coalesce(sum_ccos_nano, 0) AS BIGINT) AS sum_ccos_nano")
      .orderBy("cell")
  }

  val incrementalAssignOracle: String =
    s"""WITH ${ivfCte(DuckD)},
        old_t AS (SELECT cell, count(*) AS old_n FROM assigned
                  WHERE vec_id % $batchMod <> $batchRem GROUP BY cell),
        add_t AS (SELECT cell, count(*) AS n_added,
                    sum(CAST(round(ccos * 1000000000) AS BIGINT)) AS sum_ccos_nano
                  FROM assigned
                  WHERE vec_id % $batchMod = $batchRem GROUP BY cell)
        SELECT coalesce(o.cell, a.cell) AS cell,
          CAST(coalesce(o.old_n, 0) AS BIGINT) AS old_n,
          CAST(coalesce(a.n_added, 0) AS BIGINT) AS n_added,
          CAST(coalesce(o.old_n, 0) + coalesce(a.n_added, 0) AS BIGINT) AS new_n,
          CAST(coalesce(a.sum_ccos_nano, 0) AS BIGINT) AS sum_ccos_nano
        FROM old_t o FULL OUTER JOIN add_t a ON o.cell = a.cell
        ORDER BY cell"""

  // ---- graph-based ANN search (HNSW/NSG family, relational form) ----

  private val beamB = 16
  private val searchHops = 5
  private val searchDegree = 8

  /** Search graph: two complementary bounded-occupancy views, unioned.
    *
    * (a) in-IVF-cell kNN at degree [[searchDegree]] — navigable-graph
    * search needs more out-edges than the k=3 analysis graph (HNSW's M
    * is 8–48; a degree-3 graph in 64 dims strands the walk in local
    * optima, measured ~10% recall at the fixture). (b) in-LSH-bucket
    * kNN at the same degree — the cross-cutting family: LSH buckets
    * partition the space DIFFERENTLY from IVF cells, so a vector's
    * true neighbor in another cell is often an in-bucket edge away,
    * which is what lets the walk cross cell boundaries (the
    * small-world long-link role of HNSW's upper layers). Both views
    * are equi-join candidate generation with bounded occupancy (cells
    * ~centroidMod; buckets n/2^nPlanes — at real scale nPlanes grows
    * ~log n to hold occupancy, exactly like nlist). Kept separate from
    * [[knnEdges]] so the `ann_knn_graph` oracle surface is untouched. */
  private def searchEdges(spark: SparkSession, dir: String): DataFrame =
    graft.PlanCache(spark, "ann_search_edges", dir) {
      val a = ivfAssigned(spark, dir)
        .selectExpr("vec_id", "v", "nrm", "cell",
          s"CAST(${lshBucket("v", nPlanes, SparkD)} AS INTEGER) AS bucket")
      def view(key: String): DataFrame = {
        val b = a.selectExpr(
          "vec_id AS nbr_id", "v AS nv", "nrm AS nnrm", key)
        val w = Window.partitionBy("vec_id").orderBy(desc("cosine"), asc("nbr_id"))
        a.join(b, Seq(key))
          .filter(col("vec_id") =!= col("nbr_id"))
          .selectExpr("vec_id", "nbr_id",
            s"${cosineWithNorms("v", "nv", "nrm", "nnrm", SparkD)} AS cosine")
          .withColumn("rank", row_number().over(w))
          .filter(col("rank") <= searchDegree)
          .select("vec_id", "nbr_id")
      }
      view("cell").union(view("bucket")).distinct()
    }

  /** Best-first beam search over the corpus search graph — the
    * navigable-graph ANN idea (Malkov & Yashunin's HNSW, DiskANN's
    * Vamana) expressed as bounded relational rounds instead of
    * pointer chasing: entry points are the coarse-quantizer sample
    * (one per IVF cell, so every cell component of the in-cell graph
    * is reachable); each hop joins the per-query beam (≤ beamB
    * rows per query — a TINY relation, broadcast by the planner)
    * against the edge list, scores the expanded candidates once,
    * folds them into the visited pool with a max-dedup agg, and
    * re-beams. Per-hop cost is one equi-join of a Q·beamB relation
    * against the degree·n edge relation — the shape that scales to
    * any corpus; the driver never sees a row. Hops are fixed
    * ([[graft.sql.Graph]]'s fixed-round contract: both engines run
    * the same rounds, so results agree by construction). */
  private def graphVisited(spark: SparkSession, dir: String): DataFrame =
    // The visited pool is consumed by BOTH graph queries (top-k readout
    // and the recall audit); without this cache each pays the full
    // 5-hop search — ~60 Spark jobs of window/join/cut rounds whose
    // cost is scheduler/codegen overhead, not data (the r11 driver
    // record showed exactly this line item blowing up 12x under host
    // contention). One search per session, two readouts.
    graft.PlanCache(spark, "ann_graph_visited", dir) {
      graphVisitedUncached(spark, dir)
    }

  private def graphVisitedUncached(spark: SparkSession, dir: String): DataFrame = {
    val all = vecs(spark, dir)
    val q = queriesOf(all)
      .selectExpr("vec_id AS query_id", "v AS qv", "nrm AS qnrm")
    // Lineage discipline (the propagateLabels lesson): `visited` is
    // referenced twice per hop (beam + union) and the edge relation
    // once per hop — without cuts the unrolled plan re-derives the
    // whole upstream per reference, geometrically (audited: a 5400-node
    // physical plan at 5 hops). Cutting the edge list once and the
    // visited pool per hop keeps every hop one-join shallow, and the
    // materialized sizes give the planner REAL stats, so the tiny beam
    // side broadcasts. Honors spark.graft.checkpointDir like every
    // other iterative operator.
    val knn = graft.ops.Checkpoints.cut(searchEdges(spark, dir))
    def score(cand: DataFrame): DataFrame =
      cand.join(all.select("vec_id", "v", "nrm"), Seq("vec_id"))
        .join(broadcast(q), Seq("query_id"))
        .selectExpr("query_id", "vec_id",
          s"${cosineWithNorms("qv", "v", "qnrm", "nrm", SparkD)} AS cosine")
    val entries = all.filter(centroidPred()).select("vec_id")
    var visited = graft.ops.Checkpoints.cut(score(
      q.select("query_id").crossJoin(broadcast(entries))
        .filter(col("vec_id") =!= col("query_id"))))
    val w = Window.partitionBy("query_id").orderBy(desc("cosine"), asc("vec_id"))
    for (_ <- 1 to searchHops) {
      val frontier = visited.withColumn("__rk", row_number().over(w))
        .filter(col("__rk") <= beamB).select("query_id", "vec_id")
      val expanded = frontier.join(knn, Seq("vec_id"))
        .select(col("query_id"), col("nbr_id").as("vec_id"))
        .filter(col("vec_id") =!= col("query_id"))
        .distinct()
      visited = graft.ops.Checkpoints.cut(
        visited.union(score(expanded))
          .groupBy("query_id", "vec_id").agg(max("cosine").as("cosine")))
    }
    visited
  }

  /** Graph-search top-k readout (rank, cosine per query). */
  def graphSearchTopK(spark: SparkSession, dir: String): DataFrame =
    rankTopK(graphVisited(spark, dir))

  /** CTE chain ending in `gvis$searchHops(query_id, vec_id, cosine)` —
    * the search unrolled round by round; requires ivfCte + knnCtes
    * upstream. */
  private def graphCtes: String = {
    val base =
      s"""gab AS MATERIALIZED (SELECT vec_id, v, nrm, cell,
            CAST(${lshBucket("v", nPlanes, DuckD)} AS INTEGER) AS bucket
          FROM assigned),
          gsknn_cell AS (SELECT vec_id, nbr_id FROM (
            SELECT a.vec_id, b.vec_id AS nbr_id,
              row_number() OVER (PARTITION BY a.vec_id ORDER BY
                ${cosineWithNorms("a.v", "b.v", "a.nrm", "b.nrm", DuckD)} DESC,
                b.vec_id) AS rank
            FROM gab a JOIN gab b
              ON a.cell = b.cell AND a.vec_id <> b.vec_id)
            WHERE rank <= $searchDegree),
          gsknn_bucket AS (SELECT vec_id, nbr_id FROM (
            SELECT a.vec_id, b.vec_id AS nbr_id,
              row_number() OVER (PARTITION BY a.vec_id ORDER BY
                ${cosineWithNorms("a.v", "b.v", "a.nrm", "b.nrm", DuckD)} DESC,
                b.vec_id) AS rank
            FROM gab a JOIN gab b
              ON a.bucket = b.bucket AND a.vec_id <> b.vec_id)
            WHERE rank <= $searchDegree),
          gsknn AS MATERIALIZED (
            SELECT DISTINCT vec_id, nbr_id FROM (
              SELECT * FROM gsknn_cell UNION ALL SELECT * FROM gsknn_bucket)),
          gq AS (SELECT vec_id AS query_id, v AS qv, nrm AS qnrm FROM e
            WHERE vec_id < $nQueries),
          gvis0 AS MATERIALIZED (SELECT gq.query_id, en.vec_id,
              ${cosineWithNorms("gq.qv", "ev.v", "gq.qnrm", "ev.nrm", DuckD)} AS cosine
            FROM gq JOIN e en ON $centroidPredGrafted
              AND en.vec_id <> gq.query_id
            JOIN e ev ON ev.vec_id = en.vec_id)"""
    val rounds = (1 to searchHops).map { r =>
      val prev = s"gvis${r - 1}"
      s"""gf$r AS MATERIALIZED (SELECT query_id, vec_id FROM (SELECT *,
              row_number() OVER (PARTITION BY query_id
                ORDER BY cosine DESC, vec_id) AS rk FROM $prev)
            WHERE rk <= $beamB),
          gx$r AS (SELECT DISTINCT f.query_id, k.nbr_id AS vec_id
            FROM gf$r f JOIN gsknn k ON k.vec_id = f.vec_id
            WHERE k.nbr_id <> f.query_id),
          gs$r AS (SELECT x.query_id, x.vec_id,
              ${cosineWithNorms("gq.qv", "ev.v", "gq.qnrm", "ev.nrm", DuckD)} AS cosine
            FROM gx$r x JOIN gq ON gq.query_id = x.query_id
            JOIN e ev ON ev.vec_id = x.vec_id),
          gvis$r AS MATERIALIZED (SELECT query_id, vec_id, max(cosine) AS cosine
            FROM (SELECT * FROM $prev UNION ALL SELECT * FROM gs$r)
            GROUP BY query_id, vec_id)"""
    }
    (base +: rounds).mkString(",\n        ")
  }

  /** centroid predicate over alias `en` (SQL injection point for
    * [[graphCtes]]'s entry set — same bound as [[centroidPredSql]]). */
  private def centroidPredGrafted: String =
    s"en.vec_id % $centroidMod = 0 AND en.vec_id < ${centroidMod.toLong * defaultMaxNlist}"

  val graphSearchTopKOracle: String =
    s"""WITH ${ivfCte(DuckD)},
        $graphCtes
        SELECT query_id, vec_id, rank, cosine FROM (SELECT *,
            row_number() OVER (PARTITION BY query_id
              ORDER BY cosine DESC, vec_id) AS rank
          FROM gvis$searchHops)
        WHERE rank <= $topK ORDER BY query_id, rank"""

  /** Recall of the graph search against the brute-force truth — the
    * audit row that keeps the navigable-graph tier honest (the same
    * pattern as [[annRecall]]; `AnnSpec` pins a recall floor). */
  def graphSearchRecall(spark: SparkSession, dir: String): DataFrame =
    recallAtK(cosineTopK(spark, dir).select("query_id", "vec_id"),
      graphSearchTopK(spark, dir), "query_id").orderBy("query_id")

  val graphSearchRecallOracle: String =
    s"""WITH ${ivfCte(DuckD)},
        $graphCtes,
        g_top AS (SELECT query_id, vec_id FROM (SELECT *,
            row_number() OVER (PARTITION BY query_id
              ORDER BY cosine DESC, vec_id) AS rank
          FROM gvis$searchHops) WHERE rank <= $topK),
        t_scored AS (SELECT gq.query_id, e.vec_id,
            ${cosineWithNorms("gq.qv", "e.v", "gq.qnrm", "e.nrm", DuckD)} AS cosine
          FROM e JOIN gq ON e.vec_id <> gq.query_id),
        t_top AS (SELECT query_id, vec_id FROM (SELECT *,
            row_number() OVER (PARTITION BY query_id
              ORDER BY cosine DESC, vec_id) AS rank
          FROM t_scored) WHERE rank <= $topK)
        SELECT t.query_id, CAST(count(*) AS BIGINT) AS n_true,
          CAST(sum(CASE WHEN g.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
          sum(CASE WHEN g.vec_id IS NOT NULL THEN 1 ELSE 0 END)
            / CAST(count(*) AS DOUBLE) AS recall_at_k
        FROM t_top t LEFT JOIN g_top g
          ON t.query_id = g.query_id AND t.vec_id = g.vec_id
        GROUP BY t.query_id ORDER BY t.query_id"""

  // ---- k-means|| oversampling seeding (Bahmani et al. 2012) ----

  private val kppRounds = 3
  private val kppOversample = 8

  private def kppStr(e: String, d: Dialect): String = d match {
    case SparkD => s"CAST($e AS STRING)"
    case DuckD  => s"CAST($e AS VARCHAR)"
  }

  /** K-means|| seeding — the SCALE path for training the IVF coarse
    * quantizer: sequential k-means++ needs k passes (useless on a
    * cluster), k-means|| gets an O(log n)-competitive seed set in a
    * FIXED number of passes by oversampling each round: every point
    * joins the current candidate set (tiny, broadcast), computes its
    * squared-L2 distance to the nearest candidate, and is selected
    * with probability l·d²/φ — here made fully deterministic by
    * drawing the "coin" from a per-(vector, round) md5 hash and
    * testing it against the exact-integer threshold
    * (l·d²_micro·10^6) DIV φ_micro, so both engines select the
    * identical set and the oracle hash is exact. Selected candidates
    * get their k-means++ WEIGHT (how many points they are nearest
    * candidate for, ties to the smaller id) — the weighted instance a
    * driver-side k-clustering finishes in milliseconds.
    *
    * Scale shape: per round one broadcast join (candidates ≤
    * 1 + r·E[l] rows) + one map-side-combined φ total; the corpus
    * shuffles ZERO times across all rounds. Candidate d² = 0 gives
    * threshold 0, so re-selection is structurally impossible. */
  def kmeansParallelSeed(spark: SparkSession, dir: String): DataFrame = {
    import graft.ops.Checkpoints
    val all = vecs(spark, dir).select("vec_id", "v")
    // deterministic start: the minimum vec_id
    var cands = all
      .join(broadcast(all.agg(min("vec_id").as("m"))),
        col("vec_id") === col("m"))
      .selectExpr("CAST(0 AS INT) AS sel_round", "vec_id AS cand_id",
        "v AS cv")
      .transform(Checkpoints.cut)
    for (r <- 1 to kppRounds) {
      // r13: the per-round nearest-candidate distance aggregates
      // NARROW (vec_id, d2) rows — the old shape dragged the full
      // vector through the group-by as first(v), a var-length agg
      // buffer that demotes the hash aggregate and shuffles every
      // embedding once per round. The (tiny, coin-filtered) picked
      // set re-fetches its vectors with one broadcast join against
      // the cached corpus instead; first(v) grouped by vec_id was the
      // row's own v, so the fetched vectors are identical.
      // the distance table feeds BOTH phi and the coin filter — cut it
      // (narrow: vec_id + one long) or the corpus × candidates
      // distance pass runs twice per round
      val d2 = Checkpoints.cut(all.join(broadcast(cands))
        .selectExpr("vec_id",
          s"${l2sqRange("v", "cv", 0, embeddingDims, SparkD)} AS d2")
        .groupBy("vec_id").agg(min("d2").as("d2"))
        .selectExpr("vec_id", "CAST(round(d2 * 1e6) AS BIGINT) AS d2_micro"))
      val phi = d2.agg(sum("d2_micro").as("phi"))
      val pickedIds = d2.join(broadcast(phi))
        .selectExpr("vec_id", "d2_micro", "phi",
          s"${hexPrefix32(s"md5(concat(${kppStr("vec_id", SparkD)}, ':kpp$r'))")} % 1000000 AS coin")
        .filter(s"phi > 0 AND coin < ($kppOversample * d2_micro * 1000000) DIV phi")
        .select("vec_id")
      val picked = all.join(broadcast(pickedIds), Seq("vec_id"))
        .selectExpr(s"CAST($r AS INT) AS sel_round", "vec_id AS cand_id",
          "v AS cv")
      cands = cands.unionByName(picked).transform(Checkpoints.cutRound(_, r))
    }
    // k-means++ weights: each point votes for its nearest candidate
    val votes = all.join(broadcast(cands))
      .selectExpr("vec_id", "cand_id",
        s"${l2sqRange("v", "cv", 0, embeddingDims, SparkD)} AS d2")
      .withColumn("rk", row_number().over(
        Window.partitionBy("vec_id").orderBy(asc("d2"), asc("cand_id"))))
      .filter("rk = 1")
      .groupBy("cand_id").agg(count(lit(1)).as("weight"))
    cands.select("sel_round", "cand_id")
      .join(votes, Seq("cand_id"), "left_outer")
      .selectExpr("sel_round", "cand_id",
        "CAST(coalesce(weight, 0) AS BIGINT) AS weight")
      .orderBy("sel_round", "cand_id")
  }

  val kmeansParallelSeedOracle: String = {
    val d = DuckD
    val rounds = (1 to kppRounds).map { r =>
      s"""d2_$r AS (SELECT e.vec_id, e.v,
            CAST(round(min(${l2sqRange("e.v", "c.cv", 0, embeddingDims, d)}) * 1e6) AS BIGINT) AS d2_micro
          FROM e CROSS JOIN cands_${r - 1} c GROUP BY e.vec_id, e.v),
        phi_$r AS (SELECT CAST(sum(d2_micro) AS BIGINT) AS phi FROM d2_$r),
        picked_$r AS (SELECT $r AS sel_round, vec_id AS cand_id, v AS cv
          FROM d2_$r, phi_$r
          WHERE phi > 0 AND
            ${hexPrefix32(s"md5(concat(${kppStr("vec_id", d)}, ':kpp$r'))")} % 1000000
              < ${intDiv(s"($kppOversample * d2_micro * 1000000)", "phi", d)}),
        cands_$r AS (SELECT * FROM cands_${r - 1}
          UNION ALL SELECT * FROM picked_$r)"""
    }.mkString(",\n        ")
    s"""WITH ${vecsCte(d)},
        cands_0 AS (SELECT 0 AS sel_round, vec_id AS cand_id, v AS cv
          FROM e WHERE vec_id = (SELECT min(vec_id) FROM e)),
        $rounds,
        votes AS (SELECT cand_id, count(*) AS weight FROM (
          SELECT e.vec_id, c.cand_id,
            row_number() OVER (PARTITION BY e.vec_id
              ORDER BY ${l2sqRange("e.v", "c.cv", 0, embeddingDims, d)}, c.cand_id) AS rk
          FROM e CROSS JOIN cands_$kppRounds c) a
          WHERE rk = 1 GROUP BY cand_id)
        SELECT c.sel_round, c.cand_id,
          CAST(coalesce(v.weight, 0) AS BIGINT) AS weight
        FROM cands_$kppRounds c LEFT JOIN votes v ON c.cand_id = v.cand_id
        ORDER BY c.sel_round, c.cand_id"""
  }

  // ---- simplified silhouette over the label partition ----

  /** Simplified silhouette score per label — the cluster-quality
    * readout (Rousseeuw 1987, centroid form): for each vector,
    * a = distance to its OWN label centroid, b = distance to the
    * nearest OTHER centroid, s = (b − a)/max(a, b) ∈ [−1, 1]; a label
    * whose members sit closer to a foreign centroid than their own
    * (s ≤ 0) is mislabeled or unseparated — the dataset-diagnosis
    * twin of [[labelOutliers]]' per-vector ranking. The centroid form
    * is THE scalable silhouette: true silhouette is all-pairs O(n²),
    * this is one broadcast join against the label-grain centroid
    * relation (exact quantized-integer means, the [[labelOutliers]]
    * machinery) and one map-side-combined rollup. Per-vector scores
    * nano-quantize before the per-label BIGINT sum, so the mean is
    * order-independent under any partitioning. */
  def labelSilhouette(spark: SparkSession, dir: String): DataFrame = {
    val e = vecs(spark, dir)
    val cent = e
      .select(col("label"), posexplode(col("v")).as(Seq("dim", "x")))
      .groupBy("label", "dim")
      .agg(count(lit(1)).as("n_members"),
        sum(expr("CAST(round(x * 10000000) AS BIGINT)")).as("qs"))
      .selectExpr("label AS clabel", "dim",
        "qs / CAST(10000000 AS DOUBLE) / n_members AS mean_x")
      .groupBy("clabel")
      .agg(expr(
        "transform(sort_array(collect_list(struct(dim, mean_x))), s -> s.mean_x)")
        .as("cv"))
    val scored = e.join(broadcast(cent))
      .selectExpr("vec_id", "label", "clabel",
        s"sqrt(${l2sqRange("v", "cv", 0, embeddingDims, SparkD)}) AS dist")
      .groupBy("vec_id", "label")
      .agg(min(expr("CASE WHEN clabel = label THEN dist END")).as("a"),
        min(expr("CASE WHEN clabel <> label THEN dist END")).as("b"))
      .selectExpr("vec_id", "label",
        "CASE WHEN greatest(a, b) > 0 THEN " +
          "CAST(round((b - a) / greatest(a, b) * 1e9) AS BIGINT) " +
          "ELSE CAST(0 AS BIGINT) END AS s_nano")
    scored.groupBy("label")
      .agg(count(lit(1)).as("n_vectors"), sum("s_nano").as("s_sum"),
        sum(expr("CASE WHEN s_nano > 0 THEN 1 ELSE 0 END")).as("n_positive"))
      .selectExpr("label", "n_vectors",
        "CAST(s_sum AS DOUBLE) / n_vectors / 1e9 AS mean_silhouette",
        "CAST(n_positive AS BIGINT) AS n_positive")
      .orderBy("label")
  }

  val labelSilhouetteOracle: String =
    s"""WITH ${vecsCte(DuckD)},
        cent_u AS (SELECT e.label AS clabel, d.dim, count(*) AS n_members,
            sum(CAST(round(e.v[d.dim + 1] * 10000000) AS BIGINT)) AS qs
          FROM e CROSS JOIN range(0, $embeddingDims) d(dim)
          GROUP BY e.label, d.dim),
        cent AS (SELECT clabel,
            list(qs / CAST(10000000 AS DOUBLE) / n_members ORDER BY dim) AS cv
          FROM cent_u GROUP BY clabel),
        ab AS (SELECT e.vec_id, e.label,
            min(CASE WHEN c.clabel = e.label THEN
              sqrt(${l2sqRange("e.v", "c.cv", 0, embeddingDims, DuckD)}) END) AS a,
            min(CASE WHEN c.clabel <> e.label THEN
              sqrt(${l2sqRange("e.v", "c.cv", 0, embeddingDims, DuckD)}) END) AS b
          FROM e CROSS JOIN cent c GROUP BY e.vec_id, e.label),
        sc AS (SELECT vec_id, label,
            CASE WHEN greatest(a, b) > 0 THEN
              CAST(round((b - a) / greatest(a, b) * 1e9) AS BIGINT)
              ELSE CAST(0 AS BIGINT) END AS s_nano
          FROM ab)
        SELECT label, count(*) AS n_vectors,
          CAST(sum(s_nano) AS DOUBLE) / count(*) / 1e9 AS mean_silhouette,
          CAST(sum(CASE WHEN s_nano > 0 THEN 1 ELSE 0 END) AS BIGINT)
            AS n_positive
        FROM sc GROUP BY label ORDER BY label"""

  // ---- filtered (attribute-constrained) vector search ----

  /** Filtered ANN — top-k under a metadata predicate (here: candidate
    * label must be even), the vector-database feature every RAG stack
    * asks for next ("nearest neighbors WHERE source = X AND date >
    * Y"). The load-bearing decision is WHERE the filter runs: this
    * plan PRE-filters — the predicate lands on the candidate scan
    * before any distance math, so cost scales with the filtered
    * corpus and recall is exact-by-construction over the admissible
    * set. The alternative (post-filtering a top-k′ of the unfiltered
    * index) silently under-returns when the filter is selective —
    * k′ must grow like k/selectivity, which is the documented
    * production trade for IVF/graph tiers (probe wider or maintain
    * per-attribute partitions; this fixture's brute tier needs
    * neither). Same broadcast-queries shape as [[cosineTopK]]. */
  def filteredTopK(spark: SparkSession, dir: String): DataFrame = {
    val all = vecs(spark, dir)
    cosineTopKOf(all.filter("label % 2 = 0"), queriesOf(all), Nil, Seq("label"))
  }

  val filteredTopKOracle: String =
    s"""WITH ${vecsCte(DuckD)},
        q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qnrm FROM e
              WHERE vec_id < $nQueries),
        scored AS (SELECT q.query_id, e.vec_id, e.label,
            ${cosineWithNorms("q.qv", "e.v", "q.qnrm", "e.nrm", DuckD)} AS cosine
          FROM e CROSS JOIN q
          WHERE e.vec_id <> q.query_id AND e.label % 2 = 0),
        ranked AS (SELECT *, row_number() OVER (PARTITION BY query_id
            ORDER BY cosine DESC, vec_id) AS rank
          FROM scored)
        SELECT query_id, vec_id, label, rank, cosine
        FROM ranked WHERE rank <= $topK
        ORDER BY query_id, rank"""

  // ---- hard-negative mining for contrastive training ----

  private val hardNegK = 50

  /** Hard-negative mining — the contrastive-training data op: the
    * corpus-wide top-[[hardNegK]] CROSS-LABEL pairs by cosine. Easy
    * negatives (random cross-label pairs) teach an encoder nothing;
    * the pairs that sit closest in embedding space while carrying
    * different labels are exactly the ones a contrastive or triplet
    * loss needs — and, dually, the first place to look for LABEL
    * ERRORS (a 0.99-cosine cross-label pair is more often a
    * mislabel than a hard negative, which is why the pair list is a
    * curation artifact too, cf. [[labelOutliers]]).
    *
    * Candidates come from the same bounded-occupancy IVF-cell
    * equi-join as [[knnGraph]] — never all pairs; the trade
    * (cross-cell hard negatives are invisible) is the standard
    * in-batch/-cell mining approximation, and widening it is probe
    * multiplicity, not a plan change. Pairs are canonicalized
    * (va < vb) BEFORE the top-k so each unordered pair appears
    * once; ordering is total via the id tie-break. */
  def hardNegatives(spark: SparkSession, dir: String): DataFrame = {
    val a = ivfAssigned(spark, dir)
      .select("vec_id", "v", "nrm", "cell", "label")
    val b = a.selectExpr("vec_id AS nbr_id", "v AS nv", "nrm AS nnrm",
      "cell", "label AS nlabel")
    a.join(b, Seq("cell"))
      .filter(col("vec_id") < col("nbr_id") &&
        col("label") =!= col("nlabel"))
      .selectExpr("vec_id AS vec_a", "nbr_id AS vec_b",
        "label AS label_a", "nlabel AS label_b", "cell",
        s"${cosineWithNorms("v", "nv", "nrm", "nnrm", SparkD)} AS cosine")
      .orderBy(desc("cosine"), asc("vec_a"), asc("vec_b"))
      .limit(hardNegK)
  }

  val hardNegativesOracle: String =
    s"""WITH ${ivfCte(DuckD)}
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
          a.label AS label_a, b.label AS label_b, a.cell,
          ${cosineWithNorms("a.v", "b.v", "a.nrm", "b.nrm", DuckD)} AS cosine
        FROM assigned a JOIN assigned b
          ON a.cell = b.cell AND a.vec_id < b.vec_id
        WHERE a.label <> b.label
        ORDER BY cosine DESC, vec_a, vec_b LIMIT $hardNegK"""
}
