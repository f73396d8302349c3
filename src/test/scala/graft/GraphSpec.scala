package graft

import graft.llm.Dedup

/** The iterative graph kernels of `sql.Graph` below their oracles'
  * reach: exact answers on hand-built graphs, and convergence of the
  * fixed-round loops inside their round budgets on the fixtures. */
class GraphSpec extends SparkSpec {
  import spark.implicits._

  test("kcore: triangle survives peeling, pendant chain does not") {
    // triangle 1-2-3 (the 2-core) with a pendant chain 3-4-5-6: peeling
    // strips the chain end-in, then nothing else — the brute-force
    // expectation is exactly the triangle at degree 2
    val pairs = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L), (5L, 6L))
    val edges = pairs.toDF("a", "b").selectExpr("a AS src", "b AS dst")
      .unionAll(pairs.toDF("a", "b").selectExpr("b AS src", "a AS dst"))
    val core = graft.sql.Graph.kcore(edges, 2, 8)
      .as[(Long, Long)].collect().sorted.toSeq
    assert(core == Seq((1L, 2L), (2L, 2L), (3L, 2L)))
  }

  test("kcore: fixture peeling converges inside the round budget") {
    // the fixed-round contract: one extra round must change nothing on
    // the fixture (if a regenerated corpus ever peels slower, this
    // fails loudly and the round budget gets raised)
    val p = Dedup.minhashPairs(spark, sfTiny).select("doc_a", "doc_b")
    val edges = p.selectExpr("doc_a AS src", "doc_b AS dst")
      .unionAll(p.selectExpr("doc_b AS src", "doc_a AS dst"))
    val at8 = graft.sql.Graph.kcore(edges, 2, 8).as[(Long, Long)].collect().sorted.toSeq
    val at9 = graft.sql.Graph.kcore(edges, 2, 9).as[(Long, Long)].collect().sorted.toSeq
    assert(at8 == at9, "peeling had not converged after 8 rounds")
    // and every member really has core degree >= k
    assert(at8.forall(_._2 >= 2))
  }

  test("bfs kernel: exact hops and seed tie-break on a path graph") {
    // 0→1→2→3→4 and 10→3: node 3 is reachable from seed 0 in 3 hops
    // and from seed 10 in 1 hop — the packed min must pick (1, 10).
    val edges = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L), (10L, 3L))
      .toDF("src", "dst")
    val seeds = Seq(0L, 10L).toDF("node")
    val dist = graft.sql.Graph.bfsHops(edges, seeds, rounds = 6)
      .as[(Long, Long)].collect().toMap
    assert(dist(0L) == 0L && dist(10L) == 10L) // hop 0, own seed
    assert(dist(1L) == 100L) // hop 1 from seed 0
    assert(dist(2L) == 200L)
    assert(dist(3L) == 110L) // hop 1 from seed 10 beats hop 3 from seed 0
    assert(dist(4L) == 210L) // continues from the winning label
    assert(!dist.contains(5L))
  }

  test("bfs fixture converges inside the round budget") {
    val edges = graft.sql.Graph
      .tradeEdgesForTest(spark, sfTiny).localCheckpoint(true)
    val seeds = graft.io.Tables.table(spark, sfTiny, "nation")
      .filter("n_regionkey = 0").selectExpr("n_nationkey AS node")
    def run(r: Int) = graft.sql.Graph.bfsHops(edges, seeds, r)
      .as[(Long, Long)].collect().toMap
    assert(run(6) == run(7), "one extra round changed the labeling")
  }
}
