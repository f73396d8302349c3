package graft

import org.apache.spark.sql.functions._
import graft.functions.CdcBoundaries
import org.apache.spark.unsafe.types.UTF8String

/** Structural invariants of the round-6 operators that the DuckDB hash
  * compare cannot express: the bigram model is a proper conditional
  * distribution, PageRank conserves quantized mass, the A-ES sample
  * matches a from-scratch JVM recomputation, and CDC boundaries are
  * content-local (edit early, realign immediately after).
  */
class Round6Spec extends SparkSpec {
  import spark.implicits._

  test("bigram model: per-antecedent probabilities are a distribution") {
    val r = graft.llm.LanguageModel.bigramScore(spark, sfTiny)
    val rows = r.selectExpr("n_bigrams", "avg_bigram_prob")
      .as[(Long, Double)].collect()
    assert(rows.nonEmpty)
    // probabilities are averages of p(w2|w1) <= 1 (+ rounding slack)
    assert(rows.forall { case (n, p) => p >= 0 && p <= 1.0 + 1e-9 })
    // docs with < 2 tokens score exactly zero, and scored docs positive
    assert(rows.forall { case (n, p) => (n == 0) == (p == 0.0) })
  }

  test("PageRank: all nodes ranked, mass conserved up to floor loss") {
    val r = graft.sql.Graph.nationPagerank(spark, sfTiny)
      .select("rank_pico").as[Long].collect()
    assert(r.length == 25)
    assert(r.forall(_ > 0))
    val total = r.sum
    // every DIV floors: mass only shrinks, and by < 1 unit per
    // division — 3 iterations × (25 nodes × 3 divisions + edges) stays
    // far under this slack
    assert(total <= 1000000000000L)
    assert(total > 1000000000000L - 1000000L, s"mass lost: $total")
  }

  test("weighted sample == from-scratch JVM recomputation of A-ES keys") {
    val docs = graft.io.Tables.documents(spark, sfTiny)
      .select("doc_id", "n_chars").as[(Long, Long)].collect()
    def key(id: Long, w: Long): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s"ws|$id".getBytes("UTF-8")).map("%02x".format(_)).mkString
      val h = java.lang.Long.parseLong(hex.take(8), 16)
      math.round(-math.log((h + 1).toDouble / 4294967296.0) / w.toDouble * 1e12)
    }
    val expected = docs.map { case (id, w) => (key(id, w), id) }
      .sortBy(identity).take(50).map(_._2).toSeq
    val got = graft.llm.Curation.weightedSample(spark, sfTiny)
      .orderBy("sample_rank").select("doc_id").as[Long].collect().toSeq
    assert(got == expected)
  }

  test("BPE merge step == brute-force weighted pair counts") {
    val texts = graft.io.Tables.documents(spark, sfTiny)
      .select("text").as[String].collect()
    val wf = texts.flatMap(_.trim.toLowerCase.split("\\s+"))
      .groupBy(identity).map { case (w, o) => (w, o.length.toLong) }
      .filter(_._1.length >= 2)
    val counts = wf.toSeq.flatMap { case (w, f) =>
      w.sliding(2).map(p => (p, f)) }
      .groupBy(_._1).map { case (p, o) => (p, o.map(_._2).sum) }
    val expected = counts.toSeq.sortBy { case (p, n) => (-n, p) }.take(10)
    val got = graft.llm.LanguageModel.bpeMergeStep(spark, sfTiny)
      .orderBy("merge_rank").select("pair", "n")
      .as[(String, Long)].collect().toSeq
    assert(got == expected)
  }

  test("CDC chunks tile each document exactly") {
    val bad = graft.llm.Chunking.cdcChunks(spark, sfTiny)
      .groupBy("doc_id")
      .agg(sum("chunk_len").as("covered"), max("chunk_start").as("last_start"))
      .join(graft.io.Tables.documents(spark, sfTiny)
        .selectExpr("doc_id", "length(text) AS len"), Seq("doc_id"))
      .filter("covered <> len")
    assert(bad.count() == 0)
  }

  test("prefix filtering is COMPLETE: finds every brute-force Jaccard>=0.8 pair") {
    val sets = graft.io.Tables.documents(spark, sfTiny)
      .selectExpr("doc_id", "array_distinct(split(trim(lower(text)), '\\\\s+')) AS toks")
      .as[(Long, Seq[String])].collect()
      .map { case (id, t) => (id, t.toSet) }
    val brute = (for {
      (a, ta) <- sets; (b, tb) <- sets if a < b
      inter = (ta & tb).size; uni = (ta | tb).size
      if uni > 0 && 5 * inter >= 4 * uni
    } yield (a, b)).toSet
    val got = graft.llm.PrefixJoin.prefixFilterPairs(spark, sfTiny)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(got == brute, s"missing: ${brute -- got}, extra: ${got -- brute}")
  }

  test("CDC chunking is total on sub-window and empty documents") {
    val dir = java.nio.file.Files.createTempDirectory("graft_cdc_short").toString
    Seq(
      (1L, "", "en", "crafted", 0L),
      (2L, "abc", "en", "crafted", 3L),
      (3L, "exactly8", "en", "crafted", 8L),
      (4L, "a bit longer than the window", "en", "crafted", 28L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val chunks = graft.llm.Chunking.cdcChunks(spark, dir)
      .select("doc_id", "chunk_idx", "chunk_start", "chunk_len")
      .as[(Long, Long, Long, Int)].collect()
    // the empty doc yields no chunks; every other doc tiles exactly
    assert(!chunks.exists(_._1 == 1L))
    val byDoc = chunks.groupBy(_._1)
    assert(byDoc(2L).map(_._4).sum == 3)
    assert(byDoc(3L).map(_._4).sum == 8)
    assert(byDoc(4L).map(_._4).sum == 28)
    // shorter than the window => can never cut => exactly one chunk
    assert(byDoc(2L).length == 1 && byDoc(2L).head._3 == 1)
  }

  test("CDC boundaries are content-local: a prefix edit realigns") {
    // varied content (LCG-generated letters) — a short REPEATING string
    // can miss the 1/64 cut condition on every one of its few distinct
    // windows, which is itself CDC behavior, not a bug
    val t = {
      var x = 12345L
      (1 to 2000).map { _ =>
        x = (x * 1103515245L + 12345L) % 2147483648L
        ('a' + (x % 26).toInt).toChar
      }.mkString
    }
    def bounds(s: String): Seq[Int] =
      CdcBoundaries.compute(UTF8String.fromString(s)).toIntArray().toSeq
    val base = bounds(t)
    assert(base.nonEmpty, "fixture text should produce boundaries")
    val prefix = "INSERTED PREAMBLE xyz. "
    val shifted = bounds(prefix + t)
    // beyond the first full window inside t, boundaries are exactly the
    // originals shifted by the prefix length — CDC's whole point
    val tail = shifted.filter(_ >= prefix.length + CdcBoundaries.Window)
    val expected = base.filter(_ >= CdcBoundaries.Window)
      .map(_ + prefix.length)
    assert(tail == expected)
  }
}
