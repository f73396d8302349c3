package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Gen._

/** One MMR pick row of `Retrieval.mmrGreedy`'s bounded output. Top
  * level and public: declared private inside `Retrieval`, its
  * generated encoder failed to compile and the UDF ran interpreted. */
case class MmrPick(vec_id: Long, rank: Int, mmr_nano: Long)

/** Hybrid retrieval: reciprocal-rank fusion (Cormack et al. 2009) of
  * the engine's lexical tier (TF-IDF cosine over 3-gram shingles, the
  * staged [[TextAnalysis.tfidfSims]] relation) and its semantic tier
  * (embedding cosine, [[Similarity.cosineTopK]]) — the production
  * default for search since pure-lexical and pure-vector both leave
  * recall on the table, and the fusion needs only RANKS, never
  * score calibration between incomparable metrics.
  *
  * Scale shape: both inputs are already per-query top-k relations
  * (k·|queries| rows), so the fusion itself is a full-outer equi-join
  * on (query, doc) plus one window — negligible next to the tiers it
  * composes. At 100 TB the lexical candidates come from the
  * posting-list/BM25 path and the semantic ones from IVF — both
  * bounded — and this operator is unchanged.
  *
  * Determinism: RRF contributions are nano-quantized upfront —
  * round(10⁹/(60 + rank)) is an exact integer for every rank, so
  * fused scores are BIGINT sums and the final ordering needs no float
  * comparison (doc_id breaks the remaining ties).
  */
object Retrieval {

  private val nQueries = 5
  private val topK = 10
  private val rrfK = 60

  private def rrfTerm(rank: String): String =
    s"CAST(round(1000000000.0 / ($rrfK + $rank)) AS BIGINT)"

  def rrfFusion(spark: SparkSession, dir: String): DataFrame = {
    // lexical tier: symmetrize the doc_a<doc_b sims, rank per query
    val sims = TextAnalysis.tfidfSims(spark, dir)
    val lexSym = sims.selectExpr("doc_a AS q", "doc_b AS d", "cos_sim")
      .unionAll(sims.selectExpr("doc_b AS q", "doc_a AS d", "cos_sim"))
      .filter(col("q") < nQueries)
    val wLex = Window.partitionBy("q").orderBy(desc("cos_sim"), asc("d"))
    val lex10 = lexSym.withColumn("rank_lex", row_number().over(wLex))
      .filter(col("rank_lex") <= topK).select("q", "d", "rank_lex")
    // semantic tier: the brute-force cosine top-k (IVF at scale)
    val sem10 = Similarity.cosineTopK(spark, dir)
      .selectExpr("query_id AS q", "vec_id AS d", "rank AS rank_sem")
    // fusion: full outer on (q, d), nano-quantized RRF contributions
    val merged = lex10.join(sem10, Seq("q", "d"), "full_outer")
      .selectExpr("q", "d",
        "CAST(coalesce(rank_lex, 0) AS BIGINT) AS rank_lex",
        "CAST(coalesce(rank_sem, 0) AS BIGINT) AS rank_sem",
        s"coalesce(${rrfTerm("rank_lex")}, 0) + " +
          s"coalesce(${rrfTerm("rank_sem")}, 0) AS score_nano")
    val wFused = Window.partitionBy("q").orderBy(desc("score_nano"), asc("d"))
    merged.withColumn("rrf_rank",
        row_number().over(wFused).cast("long"))
      .filter(col("rrf_rank") <= topK)
      .selectExpr("q AS query_id", "d AS doc_id", "rrf_rank",
        "score_nano", "rank_lex", "rank_sem")
      .orderBy("query_id", "rrf_rank")
  }

  val rrfFusionOracle: String = {
    val d = DuckD
    s"""WITH ${TextAnalysis.tfidfCtes},
        lexsym AS (SELECT doc_a AS q, doc_b AS dd, cos_sim FROM s
                   UNION ALL
                   SELECT doc_b AS q, doc_a AS dd, cos_sim FROM s),
        lexr AS (SELECT q, dd, row_number() OVER
                   (PARTITION BY q ORDER BY cos_sim DESC, dd) AS rank_lex
                 FROM lexsym WHERE q < $nQueries),
        lex10 AS (SELECT q, dd, rank_lex FROM lexr WHERE rank_lex <= $topK),
        ${Similarity.vecsCte(d)},
        qv AS (SELECT vec_id AS query_id, v AS cqv, nrm AS qnrm
               FROM e WHERE vec_id < $nQueries),
        semscored AS (SELECT qv.query_id, e.vec_id,
            ${cosineWithNorms("qv.cqv", "e.v", "qv.qnrm", "e.nrm", d)} AS cosine
          FROM e JOIN qv ON e.vec_id <> qv.query_id),
        semr AS (SELECT query_id, vec_id, row_number() OVER
                   (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rank_sem
                 FROM semscored),
        sem10 AS (SELECT query_id AS q, vec_id AS dd, rank_sem
                  FROM semr WHERE rank_sem <= $topK),
        merged AS (SELECT coalesce(l.q, s10.q) AS q,
            coalesce(l.dd, s10.dd) AS dd,
            CAST(coalesce(l.rank_lex, 0) AS BIGINT) AS rank_lex,
            CAST(coalesce(s10.rank_sem, 0) AS BIGINT) AS rank_sem,
            coalesce(${rrfTerm("l.rank_lex")}, 0) +
              coalesce(${rrfTerm("s10.rank_sem")}, 0) AS score_nano
          FROM lex10 l FULL OUTER JOIN sem10 s10
            ON l.q = s10.q AND l.dd = s10.dd),
        fused AS (SELECT *, CAST(row_number() OVER
            (PARTITION BY q ORDER BY score_nano DESC, dd) AS BIGINT) AS rrf_rank
          FROM merged)
        SELECT q AS query_id, dd AS doc_id, rrf_rank,
          CAST(score_nano AS BIGINT) AS score_nano, rank_lex, rank_sem
        FROM fused WHERE rrf_rank <= $topK
        ORDER BY query_id, rrf_rank"""
  }

  // ---- ranking-quality evaluation (recall / MRR / nDCG) ----

  /** Position-discount weights, nano-quantized ONCE in Scala and
    * emitted as identical integer literals into both engines — the
    * 1/log₂(i+1) discounts (and 1/rank reciprocals) are the only
    * transcendental quantities in the metric, so freezing them as
    * constants makes every per-query metric an exact BIGINT sum;
    * only the final nDCG ratio is a float, in one shared tree. */
  private val ndcgW: IndexedSeq[Long] =
    (1 to topK).map(i => Math.round(1e9 / (Math.log(i + 1.0) / Math.log(2.0))))
  private val ndcgCumW: IndexedSeq[Long] = ndcgW.scanLeft(0L)(_ + _).tail
  private val mrrW: IndexedSeq[Long] =
    (1 to topK).map(i => Math.round(1e9 / i))

  private def dcgCase: String =
    (1 to topK).map(i => s"WHEN rrf_rank = $i THEN ${ndcgW(i - 1)}")
      .mkString("CASE ", " ", " ELSE 0 END")
  private def mrrCase: String =
    (1 to topK).map(i => s"WHEN rrf_rank = $i THEN ${mrrW(i - 1)}")
      .mkString("CASE ", " ", " ELSE 0 END")
  private def idcgCase(nRel: String): String =
    (s"CASE WHEN $nRel >= $topK THEN ${ndcgCumW(topK - 1)} " +
      (topK - 1 to 1 by -1)
        .map(k => s"WHEN $nRel = $k THEN ${ndcgCumW(k - 1)}")
        .mkString(" ")) + " ELSE 0 END"

  /** `retrieval_eval_metrics`: the standard ranking-quality readout
    * (hits@k, MRR, nDCG@k) for the RRF-fused ranking, with relevance
    * defined by label agreement between query and result vectors —
    * the eval loop a retrieval stack runs on every index/fusion
    * change, here closing the loop on the engine's own fusion tier.
    * MRR falls out as the MAX of the per-hit reciprocal weights
    * (weights are strictly decreasing in rank, so max = first
    * relevant); ideal DCG is the prefix sum of discounts cut at
    * min(k, n_relevant). Scale shape: the fused relation is already
    * k·|queries| rows; label lookups are key equi-joins (query side
    * broadcast); n_rel is one map-side-combined agg over the label
    * relation. All metric sums are exact BIGINTs. */
  def evalMetrics(spark: SparkSession, dir: String): DataFrame = {
    import graft.io.Tables
    val fused = rrfFusion(spark, dir).select("query_id", "doc_id", "rrf_rank")
    val lab = Tables.embeddings(spark, dir).select("vec_id", "label")
    val qlab = lab.filter(col("vec_id") < nQueries)
      .selectExpr("vec_id AS query_id", "label AS qlabel")
    val nRel = lab.join(broadcast(qlab),
        col("label") === col("qlabel") && col("vec_id") =!= col("query_id"))
      .groupBy("query_id", "qlabel")
      .agg(count(lit(1)).as("n_rel"))
    val perQ = fused
      .join(broadcast(qlab), Seq("query_id"))
      .join(lab.selectExpr("vec_id AS doc_id", "label AS dlabel"), Seq("doc_id"))
      .selectExpr("query_id",
        "CASE WHEN qlabel = dlabel THEN 1 ELSE 0 END AS rel", "rrf_rank")
      .groupBy("query_id")
      .agg(sum("rel").as("hits_at_10"),
        sum(expr(s"rel * ($dcgCase)")).as("dcg_nano"),
        max(expr(s"rel * ($mrrCase)")).as("mrr_nano"))
    nRel.join(perQ, Seq("query_id"), "left")
      .selectExpr("query_id", "qlabel AS label",
        "CAST(n_rel AS BIGINT) AS n_rel",
        "CAST(coalesce(hits_at_10, 0) AS BIGINT) AS hits_at_10",
        "CAST(coalesce(mrr_nano, 0) AS BIGINT) AS mrr_nano",
        "CAST(coalesce(dcg_nano, 0) AS BIGINT) AS dcg_nano",
        s"CAST(${idcgCase("n_rel")} AS BIGINT) AS idcg_nano")
      .selectExpr("*",
        "CASE WHEN idcg_nano > 0 THEN CAST(dcg_nano AS DOUBLE) / idcg_nano " +
          "ELSE CAST(0 AS DOUBLE) END AS ndcg")
      .orderBy("query_id")
  }

  lazy val evalMetricsOracle: String =
    s"""WITH f AS MATERIALIZED (SELECT query_id, doc_id, rrf_rank
                                FROM ($rrfFusionOracle) ff),
        lab AS (SELECT vec_id, label FROM embeddings),
        qlab AS (SELECT vec_id AS query_id, label AS qlabel
                 FROM lab WHERE vec_id < $nQueries),
        nrel AS (SELECT q.query_id, q.qlabel, count(*) AS n_rel
                 FROM lab l JOIN qlab q
                   ON l.label = q.qlabel AND l.vec_id <> q.query_id
                 GROUP BY q.query_id, q.qlabel),
        relrows AS (SELECT f.query_id,
                      CASE WHEN q.qlabel = d.label THEN 1 ELSE 0 END AS rel,
                      f.rrf_rank
                    FROM f JOIN qlab q ON f.query_id = q.query_id
                           JOIN lab d ON f.doc_id = d.vec_id),
        perq AS (SELECT query_id,
                   CAST(sum(rel) AS BIGINT) AS hits_at_10,
                   CAST(sum(rel * ($dcgCase)) AS BIGINT) AS dcg_nano,
                   CAST(max(rel * ($mrrCase)) AS BIGINT) AS mrr_nano
                 FROM relrows GROUP BY query_id),
        m AS (SELECT n.query_id, n.qlabel AS label,
                CAST(n.n_rel AS BIGINT) AS n_rel,
                CAST(coalesce(p.hits_at_10, 0) AS BIGINT) AS hits_at_10,
                CAST(coalesce(p.mrr_nano, 0) AS BIGINT) AS mrr_nano,
                CAST(coalesce(p.dcg_nano, 0) AS BIGINT) AS dcg_nano,
                CAST(${idcgCase("n.n_rel")} AS BIGINT) AS idcg_nano
              FROM nrel n LEFT JOIN perq p ON n.query_id = p.query_id)
        SELECT *, CASE WHEN idcg_nano > 0
            THEN CAST(dcg_nano AS DOUBLE) / idcg_nano
            ELSE CAST(0 AS DOUBLE) END AS ndcg
        FROM m ORDER BY query_id"""

  // ---- Maximal Marginal Relevance (diversified top-k) ----

  private val mmrPool = 20
  private val mmrK = 8

  /** `retrieval_mmr_topk`: greedy Maximal-Marginal-Relevance selection
    * (Carbonell & Goldstein 1998) — the diversification pass a RAG
    * stack runs after retrieval so the context window isn't five
    * copies of the same paragraph. Per query: take the top-[[mmrPool]]
    * cosine candidates, then greedily pick [[mmrK]] docs maximizing
    * λ·rel(q,d) − (1−λ)·max_{s∈S} sim(d,s) with λ=0.7.
    *
    * Exactness: rel and sim are nano-quantized BIGINTs and λ=0.7 is
    * applied as the integer form 7·rel − 3·maxsim (argmax-equivalent
    * after scaling by 10), so every greedy decision is an integer
    * comparison with doc-id tie-break — no float ordering anywhere,
    * and both engines replay the identical selection path.
    *
    * Scale shape (r14): MMR is SEQUENTIAL per query but independent
    * ACROSS queries, and the pool bounds per-query state at pool²
    * integers — so the greedy distributes over queries, not over
    * rounds. The pool relevances and the pool×pool sim relation
    * (both built by the same codegen'd cosine expressions as before)
    * collapse to ONE row per query (two collect_lists of BIGINT
    * arrays), and the whole k-round selection runs inside one scalar
    * function call on that row — integer comparisons only, identical
    * tie-breaks, and list-order-independent (every argmax carries
    * the full (score desc, id asc) total order, so collect_list's
    * unspecified ordering cannot reach the result). The r13 shape
    * ran the rounds as k−1 GLOBAL barriers (per round: anti-join +
    * sim join + two aggs + a lineage cut) — at a million queries
    * that is k−1 cluster-wide synchronizations of work that never
    * crosses a query boundary; this shape is one shuffle to query
    * grain and embarrassingly parallel across queries. MmrSpec pins
    * the greedy trace against an independent imperative replay on
    * the fixture. */
  def mmrTopK(spark: SparkSession, dir: String): DataFrame = {
    val all = Similarity.vecs(spark, dir)
    val q = all.filter(col("vec_id") < nQueries)
      .selectExpr("vec_id AS query_id", "v AS qv", "nrm AS qnrm")
    val scored = all.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .selectExpr("query_id", "vec_id",
        s"CAST(round((${cosineWithNorms("qv", "v", "qnrm", "nrm", SparkD)}) * 1e9) AS BIGINT) AS rel_nano")
    val wC = Window.partitionBy("query_id").orderBy(desc("rel_nano"), asc("vec_id"))
    val cand = scored.withColumn("crank", row_number().over(wC))
      .filter(col("crank") <= mmrPool)
      .select("query_id", "vec_id", "rel_nano")
      .transform(graft.ops.Checkpoints.cut)
    val cv = cand.select("query_id", "vec_id")
      .join(all.select("vec_id", "v", "nrm"), Seq("vec_id"))
    val sims = cv.as("a").join(cv.as("b"),
        col("a.query_id") === col("b.query_id")
          && col("a.vec_id") =!= col("b.vec_id"))
      .selectExpr("a.query_id AS query_id", "a.vec_id AS d1", "b.vec_id AS d2",
        s"CAST(round((${cosineWithNorms("a.v", "b.v", "a.nrm", "b.nrm", SparkD)}) * 1e9) AS BIGINT) AS sim_nano")
    // one row per query: the pool as (id, rel) pairs and the pool×pool
    // sims as (d1, d2, sim) triples — all BIGINT, so plain arrays
    val rels = cand.groupBy("query_id")
      .agg(collect_list(array(col("vec_id"), col("rel_nano"))).as("rl"))
    val simArr = sims.groupBy("query_id")
      .agg(collect_list(array(col("d1"), col("d2"), col("sim_nano"))).as("sl"))
    rels.join(simArr, Seq("query_id"), "left")
      .select(col("query_id"),
        explode(mmrGreedy(col("rl"), col("sl"))).as("p"))
      .selectExpr("query_id", "p.vec_id AS vec_id", "p.rank AS rank",
        "p.mmr_nano AS mmr_nano")
      .orderBy("query_id", "rank")
  }

  /** The per-query greedy, replayed imperatively over the pool arrays
    * — the exact integer path of the r13 relational rounds: round 1
    * is the (rel desc, id asc) argmax at mmr = 7·rel; round r picks
    * the remaining candidate maximizing 7·rel − 3·max_{s∈S} sim with
    * the same (score desc, id asc) tie-break; a candidate with no sim
    * row to any selected doc is EXCLUDED from the round (the inner
    * join's semantics — unreachable when sims covers the full pool²),
    * and an exhausted pool ends the selection early exactly as the
    * relational rounds' empty join did. */
  private val mmrGreedy =
    udf { (rl: Seq[Seq[Long]], sl: Seq[Seq[Long]]) =>
      val rel = rl.map(a => (a(0), a(1)))
      val sim = scala.collection.mutable.HashMap.empty[(Long, Long), Long]
      if (sl != null) sl.foreach(a => sim((a(0), a(1))) = a(2))
      val picks = scala.collection.mutable.ArrayBuffer.empty[MmrPick]
      val selected = scala.collection.mutable.ArrayBuffer.empty[Long]
      if (rel.nonEmpty) {
        val first = rel.minBy { case (id, rv) => (-rv, id) }
        picks += MmrPick(first._1, 1, 7L * first._2)
        selected += first._1
        var r = 2
        var exhausted = false
        while (r <= mmrK && !exhausted) {
          val scoredRem = rel.iterator
            .filter { case (id, _) => !selected.contains(id) }
            .flatMap { case (id, rv) =>
              val ss = selected.flatMap(s => sim.get((id, s)))
              if (ss.isEmpty) None
              else Some((id, 7L * rv - 3L * ss.max))
            }.toSeq
          if (scoredRem.isEmpty) exhausted = true
          else {
            val best = scoredRem.minBy { case (id, sc) => (-sc, id) }
            picks += MmrPick(best._1, r, best._2)
            selected += best._1
          }
          r += 1
        }
      }
      picks.toSeq
    }

  /** One greedy-round CTE pair for the oracle: pick_r (argmax of the
    * integer MMR score over non-selected candidates) and sel_r
    * (running selection). MATERIALIZED on sel: each round fans out to
    * the next round twice (anti-join + max-sim join) — unpinned, the
    * chain re-inlines geometrically (the cluster_top_terms lesson). */
  private def mmrRoundCte(r: Int): String =
    s"""ms_$r AS (SELECT c.query_id, c.vec_id, c.rel_nano,
            max(s.sim_nano) AS max_sim
          FROM cand c
          JOIN sims s ON c.query_id = s.query_id AND c.vec_id = s.d1
          JOIN sel_${r - 1} p ON s.query_id = p.query_id AND s.d2 = p.vec_id
          WHERE NOT EXISTS (SELECT 1 FROM sel_${r - 1} x
                            WHERE x.query_id = c.query_id
                              AND x.vec_id = c.vec_id)
          GROUP BY c.query_id, c.vec_id, c.rel_nano),
        pick_$r AS (SELECT query_id, vec_id, CAST($r AS INTEGER) AS rank,
            7 * rel_nano - 3 * max_sim AS mmr_nano
          FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                  ORDER BY 7 * rel_nano - 3 * max_sim DESC, vec_id) AS rn
                FROM ms_$r) z WHERE rn = 1),
        sel_$r AS MATERIALIZED (SELECT * FROM sel_${r - 1}
          UNION ALL SELECT * FROM pick_$r)"""

  lazy val mmrTopKOracle: String = {
    val rounds = (2 to mmrK).map(mmrRoundCte).mkString(",\n        ")
    s"""WITH ${Similarity.vecsCte(DuckD)},
        q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qnrm
              FROM e WHERE vec_id < $nQueries),
        scored AS (SELECT q.query_id, e.vec_id,
            CAST(round((${cosineWithNorms("q.qv", "e.v", "q.qnrm", "e.nrm", DuckD)}) * 1e9) AS BIGINT) AS rel_nano
          FROM e JOIN q ON e.vec_id <> q.query_id),
        cand AS MATERIALIZED (SELECT query_id, vec_id, rel_nano
          FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                  ORDER BY rel_nano DESC, vec_id) AS crank
                FROM scored) c0 WHERE crank <= $mmrPool),
        ce AS (SELECT c.query_id, c.vec_id, e.v, e.nrm
               FROM cand c JOIN e ON c.vec_id = e.vec_id),
        sims AS MATERIALIZED (SELECT a.query_id, a.vec_id AS d1,
            b.vec_id AS d2,
            CAST(round((${cosineWithNorms("a.v", "b.v", "a.nrm", "b.nrm", DuckD)}) * 1e9) AS BIGINT) AS sim_nano
          FROM ce a JOIN ce b
            ON a.query_id = b.query_id AND a.vec_id <> b.vec_id),
        sel_1 AS MATERIALIZED (SELECT query_id, vec_id,
            CAST(1 AS INTEGER) AS rank, 7 * rel_nano AS mmr_nano
          FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                  ORDER BY rel_nano DESC, vec_id) AS rn
                FROM cand) z WHERE rn = 1),
        $rounds
        SELECT query_id, vec_id, rank, mmr_nano FROM sel_$mmrK
        ORDER BY query_id, rank"""
  }

  // ---- cluster topic labeling ----

  private val labelTopK = 3

  /** Topic labels for the semantic (embedding-space) clusters from
    * the lexical tier: per multi-member cluster, the [[labelTopK]]
    * 3-gram terms with the highest summed TF-IDF mass over member
    * documents — "what IS this clump" for a human triaging
    * embedding-space structure, and the standard cheap cluster
    * descriptor (sum of member term weights ≈ the cluster centroid in
    * TF-IDF space). Cross-modal by construction: membership comes
    * from vectors, the label text from tokens — the composition a
    * real curation UI runs.
    *
    * Scale shape: the weights relation is (doc, term)-grain and
    * already staged ([[TextAnalysis.tfidfWeights]]); cluster labels
    * are doc-grain; the join keys on doc_id and the per-(cluster,
    * term) agg is map-side combined. Weight sums are exact BIGINTs
    * (the weights are already quantized), so ranking needs no float. */
  def clusterTopTerms(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.count
    val clab = Similarity.semanticClusters(spark, dir)
      .selectExpr("vec_id AS doc_id", "cluster_id")
    val sizes = clab.groupBy("cluster_id")
      .agg(count(lit(1)).as("n_members"))
      .filter(col("n_members") >= 2)
    val ctw = TextAnalysis.tfidfWeights(spark, dir)
      .join(clab, Seq("doc_id"))
      .join(broadcast(sizes), Seq("cluster_id"))
      .groupBy("cluster_id", "n_members", "term")
      .agg(sum("wq").as("weight"))
    val w = Window.partitionBy("cluster_id")
      .orderBy(desc("weight"), asc("term"))
    ctw.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= labelTopK)
      .selectExpr("cluster_id", "n_members", "rank", "term",
        "CAST(weight AS BIGINT) AS weight")
      .orderBy("cluster_id", "rank")
  }

  val clusterTopTermsOracle: String =
    s"""WITH ${TextAnalysis.tfidfCtes},
        -- MATERIALIZED: clab is referenced twice (sizes + ctw); DuckDB
        -- would otherwise inline the whole recursive-closure subquery
        -- per reference, which blows memory even at fixture scale.
        clab AS MATERIALIZED (SELECT vec_id AS doc_id, cluster_id
                 FROM (${Similarity.semanticClustersOracle}) sc),
        sizes AS (SELECT cluster_id, count(*) AS n_members
                  FROM clab GROUP BY cluster_id HAVING count(*) >= 2),
        ctw AS (SELECT c.cluster_id, sz.n_members, wt.term,
            CAST(sum(wt.wq) AS BIGINT) AS weight
          FROM wt JOIN clab c ON wt.doc_id = c.doc_id
          JOIN sizes sz ON c.cluster_id = sz.cluster_id
          GROUP BY c.cluster_id, sz.n_members, wt.term),
        ranked AS (SELECT *, CAST(row_number() OVER
            (PARTITION BY cluster_id ORDER BY weight DESC, term) AS BIGINT) AS rank
          FROM ctw)
        SELECT cluster_id, n_members, rank, term, weight
        FROM ranked WHERE rank <= $labelTopK
        ORDER BY cluster_id, rank"""
}
