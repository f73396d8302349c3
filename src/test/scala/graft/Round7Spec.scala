package graft

import org.apache.spark.sql.functions._
import graft.llm.{Similarity, TextAnalysis}

/** Properties of the round-7 additions that the value-equality oracles
  * can't express: graph-shape invariants of the kNN/semantic-cluster
  * tier, the classifier's exact JVM recomputation and collocation-lift
  * consistency. */
class Round7Spec extends SparkSpec {
  import spark.implicits._

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
