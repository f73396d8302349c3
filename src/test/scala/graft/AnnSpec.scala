package graft

import graft.llm.Similarity

/** Properties of the ANN surface that the value-equality oracles can't
  * express: recall bounds, the multi-probe monotonicity knob, and the
  * shape invariants of the kNN graph, semantic clusters, label
  * outliers and incremental assignment. */
class AnnSpec extends SparkSpec {
  import spark.implicits._

  test("recall is in [0,1] per tier; probe-2 recall >= probe-1 recall") {
    val rows = Similarity.annRecall(spark, sfTiny)
      .select("tier", "n_true", "n_hit", "recall_at_k")
      .as[(String, Long, Long, Double)].collect()
      .map(r => r._1 -> r).toMap
    assert(rows.keySet ==
      Set("ivf_probe1", "ivf_probe2", "ivf_refined", "lsh"))
    rows.values.foreach { case (tier, nTrue, nHit, recall) =>
      assert(nTrue > 0, tier)
      assert(nHit >= 0 && nHit <= nTrue, tier)
      assert(recall == nHit.toDouble / nTrue, tier)
    }
    // probing more cells can only ADD candidates: recall monotone in
    // nProbe (the knob the multi-probe variant exists to turn)
    assert(rows("ivf_probe2")._4 >= rows("ivf_probe1")._4)
  }

  test("recall floors: a bucketing regression cannot pass silently") {
    // Measured on the current fixture: probe1 0.52, probe2 0.70,
    // refined 0.54, lsh 0.28, pq_adc 0.10. The floors sit well below
    // those (driver fixture regenerations shift the exact values —
    // round 6 had one mid-round) but far above the ~0 a broken cell
    // assignment, band hash, or codebook lookup produces: recall is
    // the one end-to-end number every indexing bug flows into, and
    // before this spec nothing asserted any floor.
    val rows = Similarity.annRecall(spark, sfTiny)
      .select("tier", "recall_at_k").as[(String, Double)].collect().toMap
    val floors = Map("ivf_probe1" -> 0.35, "ivf_probe2" -> 0.5,
      "ivf_refined" -> 0.35, "lsh" -> 0.1)
    floors.foreach { case (tier, floor) =>
      assert(rows(tier) >= floor,
        s"$tier recall ${rows(tier)} fell below floor $floor")
    }
    val pq = Similarity.pqRecall(spark, sfTiny)
      .select("tier", "recall_at_k").as[(String, Double)].collect().toMap
    assert(pq("pq_adc") >= 0.04, s"pq_adc recall ${pq("pq_adc")} below floor 0.04")
  }

  test("pq: every vector gets one code per subspace from the codebook") {
    val codes = Similarity.pqCodes(spark, sfTiny)
      .select("vec_id", "subspace", "code", "dist")
      .as[(Long, Int, Long, Double)].collect()
    val byVec = codes.groupBy(_._1)
    assert(byVec.size == 500)
    byVec.foreach { case (v, rows) =>
      assert(rows.map(_._2).sorted.toSeq == Seq(0, 1, 2, 3), s"subspaces of $v")
    }
    // codes come from the seed codebook; quantization error non-negative
    assert(codes.forall(_._3 % 100 == 0))
    assert(codes.forall(_._4 >= 0.0))
  }

  test("ivfpq: candidates confined to the query's cell, ranked ascending") {
    val cells = Similarity.ivfCells(spark, sfTiny)
      .select("vec_id", "cell").as[(Long, Long)].collect().toMap
    val rows = Similarity.ivfPqTopK(spark, sfTiny)
      .select("query_id", "vec_id", "cell", "rank", "adist")
      .as[(Long, Long, Long, Int, Double)].collect()
    assert(rows.nonEmpty)
    rows.groupBy(_._1).foreach { case (q, rs) =>
      // the IVF tier must bound the candidate set: every scored vector
      // lives in the query's own cell (that is the whole contract)
      assert(rs.forall(r => r._3 == cells(q) && cells(r._2) == cells(q)),
        s"query $q scored a vector outside its cell")
      assert(rs.forall(_._2 != q))
      val sorted = rs.sortBy(_._4)
      assert(sorted.map(_._4).toSeq == (1 to rs.length), s"ranks of $q")
      assert(sorted.map(_._5).sliding(2).forall(p =>
        p.length < 2 || p(0) <= p(1)), s"adist order of $q")
      assert(rs.forall(_._5 >= 0.0))
    }
    // composing IVF on top of ADC can only REMOVE candidates vs plain
    // ADC over the full corpus — per query the result count is <= the
    // unrestricted tier's
    val full = Similarity.pqAdcTopK(spark, sfTiny)
      .select("query_id").as[Long].collect()
      .groupBy(identity).view.mapValues(_.length).toMap
    rows.groupBy(_._1).foreach { case (q, rs) =>
      assert(rs.length <= full.getOrElse(q, 0), s"query $q grew candidates")
    }
  }

  test("pq adc: ranked ascending by approximate distance; recall sane") {
    val adc = Similarity.pqAdcTopK(spark, sfTiny)
      .select("query_id", "vec_id", "rank", "adist")
      .as[(Long, Long, Int, Double)].collect()
    adc.groupBy(_._1).foreach { case (q, rows) =>
      val sorted = rows.sortBy(_._3)
      assert(sorted.map(_._3).toSeq == (1 to rows.length), s"ranks of $q")
      assert(sorted.map(_._4).sliding(2).forall(p =>
        p.length < 2 || p(0) <= p(1)), s"adist order of $q")
      assert(rows.forall(_._4 >= 0.0))
      assert(rows.forall(_._2 != q))
    }
    val recalls = Similarity.pqRecall(spark, sfTiny)
      .select("tier", "n_true", "n_hit", "recall_at_k")
      .as[(String, Long, Long, Double)].collect()
      .map(r => r._1 -> r).toMap
    assert(recalls.keySet == Set("pq_adc", "ivfpq_adc"))
    recalls.values.foreach { case (tier, nTrue, nHit, recall) =>
      assert(nTrue > 0 && nHit >= 0 && nHit <= nTrue, tier)
      assert(recall == nHit.toDouble / nTrue, tier)
    }
  }

  test("refined centroids keep every vector accounted for") {
    val step = Similarity.ivfKmeansRefined(spark, sfTiny)
      .select("cell", "dim", "n_members")
      .as[(Long, Int, Long)].collect()
    // each cell carries all dims, each dim of a cell the same count
    val byCell = step.groupBy(_._1)
    byCell.foreach { case (cell, rows) =>
      assert(rows.map(_._2).toSet.size == rows.length, s"dup dims in $cell")
      assert(rows.map(_._3).toSet.size == 1, s"ragged counts in $cell")
    }
    // membership over all cells == corpus size (500 vectors at sfTiny)
    val total = byCell.values.map(_.head._3).sum
    assert(total == 500L)
  }

  test("graph search beats the probe tiers and holds its recall floor") {
    // Two-view navigable graph (in-cell + in-LSH-bucket kNN edges):
    // measured 0.94 mean / 0.7 min at the fixture — ABOVE every
    // IVF/LSH tier (probe2 is ~0.70). Floors sit below the measured
    // values (fixture regenerations shift exacts) but far above both
    // a broken walk (~0.1 with in-cell-only edges stranding the beam)
    // and the probe tiers it must dominate to earn its cost.
    val rows = Similarity.graphSearchRecall(spark, sfTiny)
      .select("query_id", "recall_at_k").as[(Long, Double)].collect()
    assert(rows.length == 5)
    val mean = rows.map(_._2).sum / rows.length
    assert(mean >= 0.8, s"graph-search mean recall $mean below 0.8")
    rows.foreach { case (q, r) =>
      assert(r >= 0.5, s"query $q recall $r below 0.5") }
  }

  test("probe search: annRecall's probe rows equal probeSweep's p = 1 and 2 rows") {
    // one probe search serves both audits; p = 1 probes exactly the
    // assigned cell, because assignment and probing rank centroids by
    // the same cosine-then-centroid_id argmax
    val tiers = Similarity.annRecall(spark, sfTiny)
      .select("tier", "n_true", "n_hit", "recall_at_k")
      .as[(String, Long, Long, Double)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4)).toMap
    val sweep = Similarity.probeSweep(spark, sfTiny)
      .select("n_probe", "n_true", "n_hit", "recall_at_k")
      .as[(Int, Long, Long, Double)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4)).toMap
    assert(tiers("ivf_probe1") == sweep(1))
    assert(tiers("ivf_probe2") == sweep(2))
  }

  test("knn graph: <= k in-cell neighbors per vector, rank-ordered") {
    val g = Similarity.knnGraph(spark, sfTiny)
      .select("vec_id", "nbr_id", "cell", "rank", "cosine")
      .as[(Long, Long, Long, Int, Double)].collect()
    assert(g.nonEmpty)
    g.groupBy(_._1).foreach { case (v, rows) =>
      assert(rows.length <= 3, s"vec $v has ${rows.length} neighbors")
      assert(rows.map(_._4).sorted.sameElements(1 to rows.length), s"vec $v ranks")
      // cosine non-increasing in rank (ties broken by nbr_id asc)
      val byRank = rows.sortBy(_._4)
      byRank.sliding(2).foreach {
        case Array(a, b) =>
          assert(a._5 > b._5 || (a._5 == b._5 && a._2 < b._2), s"vec $v order")
        case _ =>
      }
      assert(rows.forall(r => r._2 != v), s"vec $v self-edge")
    }
    // neighbors come from the vector's own IVF cell
    val cells = Similarity.ivfCells(spark, sfTiny)
      .select("vec_id", "cell").as[(Long, Long)].collect().toMap
    g.foreach { case (v, n, cell, _, _) =>
      assert(cells(v) == cell && cells(n) == cell, s"edge $v->$n crosses cells")
    }
  }

  test("semantic clusters: mutual edges land in one cluster; singletons label themselves") {
    val labels = Similarity.semanticClusters(spark, sfTiny)
      .select("vec_id", "cluster_id", "is_clustered")
      .as[(Long, Long, Int)].collect()
    val byId = labels.map(r => r._1 -> r._2).toMap
    // every vector present exactly once, labels are component minima
    assert(labels.length == byId.size)
    labels.foreach { case (v, c, flag) =>
      assert(c <= v, s"label above own id for $v")
      if (flag == 0) assert(c == v, s"singleton $v mislabeled $c")
    }
    // recompute the mutual edge set from the knn graph and assert both
    // endpoints share a label (soundness of the collapse)
    val knn = Similarity.knnGraph(spark, sfTiny)
      .select("vec_id", "nbr_id", "cosine").as[(Long, Long, Double)].collect()
    val fwd = knn.map(r => (r._1, r._2)).toSet
    val mutual = knn.filter(r => r._3 >= 0.3 && r._1 < r._2 && fwd((r._2, r._1)))
    assert(mutual.nonEmpty, "fixture produced no mutual edges — spec is vacuous")
    mutual.foreach { case (a, b, _) =>
      assert(byId(a) == byId(b), s"mutual edge ($a,$b) split across clusters")
      assert(labels.find(_._1 == a).get._3 == 1 && labels.find(_._1 == b).get._3 == 1)
    }
  }

  test("label outliers: a per-label rank permutation flagging the top 5") {
    val rows = Similarity.labelOutliers(spark, sfTiny)
      .select("vec_id", "label", "dist2", "dist_rank", "is_outlier")
      .as[(Long, String, Double, Int, Int)].collect()
    assert(rows.forall(_._3 >= 0.0), "squared distance must be non-negative")
    rows.groupBy(_._2).foreach { case (label, rs) =>
      assert(rs.map(_._4).sorted.sameElements(1 to rs.length), s"$label ranks")
      assert(rs.count(_._5 == 1) == math.min(5, rs.length), s"$label outlier count")
      val byRank = rs.sortBy(_._4)
      byRank.sliding(2).foreach {
        case Array(a, b) =>
          assert(a._3 > b._3 || (a._3 == b._3 && a._1 < b._1), s"$label order")
        case _ =>
      }
    }
  }

  test("incremental assign: occupancy reconciles with the full index") {
    val inc = Similarity.incrementalAssign(spark, sfTiny)
      .select("cell", "old_n", "n_added", "new_n")
      .as[(Long, Long, Long, Long)].collect()
    assert(inc.nonEmpty)
    inc.foreach { case (c, o, a, n) => assert(o + a == n, s"cell $c") }
    // per-cell new_n must equal the full ivfCells occupancy (frozen
    // centroids: batch assignment == full assignment restricted)
    val full = Similarity.ivfCells(spark, sfTiny)
      .groupBy("cell").count().as[(Long, Long)].collect().toMap
    assert(inc.map(r => r._1 -> r._4).toMap == full)
    // and the appended count is exactly the batch-membership count
    val batchN = graft.io.Tables.embeddings(spark, sfTiny)
      .filter("vec_id % 10 = 9").count()
    assert(inc.map(_._3).sum == batchN)
  }
}
