package graft

import graft.llm.TextAnalysis

/** Properties of the text-analysis operators that the value-equality
  * oracles can't express: the hashed classifier's exact JVM
  * recomputation and collocation-lift consistency. */
class TextAnalysisSpec extends SparkSpec {
  import spark.implicits._

  test("hashed classifier matches an exact JVM recomputation") {
    val got = TextAnalysis.hashedClassifier(spark, sfTiny)
      .select("doc_id", "n_feats", "score", "keep_flag")
      .as[(Long, Int, Long, Int)].collect().map(r => r._1 -> r).toMap
    val docs = spark.read.parquet(s"$sfTiny/documents.parquet")
      .select("doc_id", "text").as[(Long, String)].collect()
    assert(docs.length == got.size)
    val md = java.security.MessageDigest.getInstance("MD5")
    def weight(tok: String): Long = {
      val hex = md.digest(tok.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(8)
      val v = java.lang.Long.parseLong(hex, 16)
      (v % 4096L) * 2654435761L % 1001L - 500L
    }
    docs.foreach { case (id, text) =>
      val toks = text.toLowerCase.trim.split("\\s+")
      val score = toks.map(weight).sum
      val (gid, n, s, flag) = got(id)
      assert(gid == id && n == toks.length, s"doc $id n_feats")
      assert(s == score, s"doc $id score: got $s want $score")
      assert(flag == (if (score >= 0) 1 else 0), s"doc $id flag")
    }
  }

  test("collocations: lift consistent with counts, ranked, above the noise floor") {
    val rows = TextAnalysis.collocations(spark, sfTiny)
      .select("rank", "term_a", "term_b", "n_pair", "n_a", "n_b", "lift")
      .as[(Int, String, String, Long, Long, Long, Double)].collect()
    assert(rows.length == 30)
    assert(rows.map(_._1).sameElements(1 to 30))
    rows.sliding(2).foreach {
      case Array(a, b) => assert(a._7 >= b._7, "lift must be non-increasing in rank")
      case _ =>
    }
    // recompute lift from the emitted counts + corpus totals
    val docs = spark.read.parquet(s"$sfTiny/documents.parquet")
      .select("text").as[String].collect()
    val allToks = docs.flatMap(_.toLowerCase.trim.split("\\s+"))
    val nTok = allToks.length.toLong
    val nPairTotal = docs.map { t =>
      val n = t.toLowerCase.trim.split("\\s+").length; math.max(n - 1, 0)
    }.sum.toLong
    rows.foreach { case (_, _, _, nPair, nA, nB, lift) =>
      assert(nPair >= 5)
      val want = (nPair.toDouble * nTok * nTok) / (nA.toDouble * nB * nPairTotal)
      assert(lift == want, s"lift mismatch: $lift vs $want")
    }
  }
}
