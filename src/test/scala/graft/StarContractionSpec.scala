package graft

import graft.llm.Dedup

/** Star-contraction connected components (`Dedup.contractComponents`)
  * — the algorithmically independent twin of min-label propagation.
  * The two implementations share NO code below the pair relation, so
  * asserting they agree (on adversarial shapes, on random graphs, and
  * on the real MinHash pair graph) checks both: a closure bug would
  * have to appear identically in pointer jumping AND in the
  * large-star/small-star rewrite to slip through.
  */
class StarContractionSpec extends SparkSpec {
  import spark.implicits._

  test("star contraction labels a diameter-30 chain inside the cap") {
    val chain = (0L until 30L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val labels = Dedup.contractComponents(chain).as[(Long, Long)].collect().toMap
    assert(labels.size == 31)
    assert(labels.values.forall(_ == 0L))
  }

  test("star contraction fails loudly when the round cap is exhausted") {
    val chain = (0L until 30L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val ex = intercept[IllegalStateException] {
      Dedup.contractComponents(chain, maxRounds = 1).collect()
    }
    assert(ex.getMessage.contains("stabilize"))
  }

  test("star contraction agrees with label propagation on random graphs") {
    val rnd = new scala.util.Random(1234)
    for (trial <- 1 to 8) {
      val n = 2 + rnd.nextInt(40)
      val edges = Seq.fill(rnd.nextInt(60))(
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong)).filter(e => e._1 != e._2)
      if (edges.nonEmpty) {
        val df = edges.toDF("doc_a", "doc_b")
        val viaStars = Dedup.contractComponents(df)
          .as[(Long, Long)].collect().toMap
        val viaLabels = Dedup.propagateLabels(df)
          .as[(Long, Long)].collect().toMap
        assert(viaStars == viaLabels, s"trial $trial: n=$n edges=$edges")
      }
    }
  }

  test("dedup_cc_contraction equals dedup_clusters on the fixture corpus") {
    val a = Dedup.dedupCcContraction(spark, sfTiny)
      .as[(Long, Long)].collect().toSeq
    val b = Dedup.dedupClusters(spark, sfTiny)
      .as[(Long, Long)].collect().toSeq
    assert(a == b)
  }

  test("label propagation stays O(edges) per round on a 1500-node chain") {
    // Regression guard for the per-round lineage truncation: before
    // propagateLabels checkpointed each round, every round silently
    // re-executed all prior rounds whenever the CacheManager plan-match
    // missed — geometric cost that only surfaced on graphs needing
    // many rounds (observed: 130 s for ROUND FOUR on 302 edges, then
    // OOM). A 1500-node chain needs ~10 pointer-jumping rounds; with
    // per-round checkpoints it completes in seconds, without them it
    // effectively hangs (2^10 recompute) — the suite timeout is the
    // assertion.
    val chain = (0L until 1499L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val labels = Dedup.propagateLabels(chain).as[(Long, Long)].collect()
    assert(labels.length == 1500)
    assert(labels.forall(_._2 == 0L), "chain must collapse to the min id")
  }
}
