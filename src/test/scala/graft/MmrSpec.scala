package graft

import graft.llm.Retrieval

/** Maximal-Marginal-Relevance greedy selection (`Retrieval.mmrTopK`)
  * replayed imperatively: the engine form (r14 — pool arrays
  * collected to one row per query, the k rounds replayed inside one
  * scalar function) must walk the EXACT selection path of the
  * textbook sequential greedy on the same nano-quantized integers.
  * The replay recomputes cosines with the same left-associated
  * 64-term dot product and HALF_UP nano rounding the engine uses, so
  * any disagreement is a selection-logic bug, not float noise.
  */
class MmrSpec extends SparkSpec {

  private val nQueries = 5
  private val pool = 20
  private val k = 8

  private def nano(x: Double): Long =
    BigDecimal(x * 1e9).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong

  test("relational MMR equals the imperative sequential greedy") {
    val vecs = spark.read.parquet(s"$sfTiny/embeddings.parquet")
      .selectExpr("vec_id", "embedding")
      .collect()
      .map(r => (r.getLong(0),
        r.getSeq[Float](1).map(_.toDouble).toArray))
      .sortBy(_._1)
    val byId = vecs.toMap
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }
      s
    }
    val nrm = vecs.map { case (id, v) => id -> math.sqrt(dot(v, v)) }.toMap
    def cosNano(a: Long, b: Long): Long =
      nano(dot(byId(a), byId(b)) / (nrm(a) * nrm(b)))

    val expected = (0L until nQueries).flatMap { q =>
      val cands = vecs.map(_._1).filter(_ != q)
        .map(d => (d, cosNano(q, d)))
        .sortBy { case (d, rel) => (-rel, d) }
        .take(pool)
      val rel = cands.toMap
      var selected = Vector.empty[(Long, Long)] // (vec_id, mmr_nano)
      for (_ <- 1 to k) {
        val sel = selected.map(_._1).toSet
        val pick = cands.filter(c => !sel.contains(c._1)).map { case (d, r) =>
          val maxSim =
            if (sel.isEmpty) 0L
            else sel.map(s => cosNano(d, s)).max
          val score = if (sel.isEmpty) 7L * r else 7L * r - 3L * maxSim
          (d, score)
        }.minBy { case (d, score) => (-score, d) }
        selected :+= pick
      }
      selected.zipWithIndex.map { case ((d, score), i) =>
        (q, d, i + 1, score)
      }
    }.toSet

    val got = Retrieval.mmrTopK(spark, sfTiny).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3)))
      .toSet
    assert(got == expected)
  }

  test("the greedy's pick rows encode through generated code") {
    // a session of its own: factoryMode refuses the interpreted
    // fallback, so an encoder whose generated code fails to compile
    // fails the query instead of running interpreted
    val cg = spark.newSession()
    cg.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    val got = Retrieval.mmrTopK(cg, sfTiny).collect()
    assert(got.length == Retrieval.mmrTopK(spark, sfTiny).count())
  }
}
