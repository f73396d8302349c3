package graft

import org.apache.spark.sql.functions._
import graft.functions.Native
import graft.llm.Gen

/** Native codegen ArrayDotProduct: equality with the unrolled
  * expression form (bit-exact), null handling, and arbitrary dims. */
class NativeFunctionSpec extends SparkSpec {
  import spark.implicits._

  test("graft_dot == unrolled 64-term expression, bit-exact, on real vectors") {
    Native.register(spark)
    val unrolled = (0 until 64).map(i => s"v[$i] * v[$i]").mkString(" + ")
    val df = graft.io.Tables.embeddings(spark, sfTiny)
      .selectExpr("vec_id", s"${Gen.toDoubleArr("embedding", Gen.SparkD)} AS v")
      .selectExpr("vec_id", "graft_dot(v, v) AS nat", s"$unrolled AS unr")
    val rows = df.select("nat", "unr").as[(Double, Double)].collect()
    assert(rows.nonEmpty)
    assert(rows.forall { case (n, u) => n == u })
  }

  test("GraftExtensions installs graft_dot at session build time") {
    import org.apache.spark.sql.SparkSession
    val base = spark // shared context stays up
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      // fresh sessionState on the same context — graft_dot must come
      // from the extensions, not from any earlier Native.register call
      val s2 = SparkSession.builder()
        .master("local[2]")
        .withExtensions(new graft.functions.GraftExtensions)
        .config("spark.ui.enabled", "false")
        .getOrCreate()
      val got = s2.sql(
        "SELECT graft_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d")
        .head().getDouble(0)
      assert(got == 11.0)
    } finally {
      SparkSession.setDefaultSession(base)
      SparkSession.setActiveSession(base)
    }
  }

  test("register installs each function once per session") {
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    val registry = spark.sessionState.functionRegistry
    val id = FunctionIdentifier("graft_dot")
    Native.register(spark)
    val (builder, info) =
      (registry.lookupFunctionBuilder(id).get, registry.lookupFunction(id).get)
    Native.register(spark)
    assert(registry.lookupFunctionBuilder(id).get eq builder,
      "a second register must not replace the installed builder")
    assert(registry.lookupFunction(id).get eq info,
      "a second register must not re-register the function")
  }

  test("GraftExtensions installs every native function, graft_hist_l1 too") {
    import org.apache.spark.sql.SparkSession
    val base = spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val s2 = SparkSession.builder()
        .master("local[2]")
        .withExtensions(new graft.functions.GraftExtensions)
        .config("spark.ui.enabled", "false")
        .getOrCreate()
      // one a and one b differ between the two histograms
      assert(s2.sql("SELECT graft_hist_l1('aab', 'abb') AS d")
        .head().getLong(0) == 2L)
    } finally {
      SparkSession.setDefaultSession(base)
      SparkSession.setActiveSession(base)
    }
  }

  test("graft_nfc composes decomposed input and fast-paths NFC input") {
    Native.register(spark)
    val rows = Seq(
      ("e\u0301", "\u00e9"), // combining acute composes
      ("\u00e9", "\u00e9"), // already-composed is unchanged
      ("\u1100\u1161\u11a8", "\uac01"), // Hangul jamo -> one syllable
      ("A\u030a", "\u00c5"), // combining ring
      ("plain ascii", "plain ascii"), // ASCII fast path (no realloc)
      ("\ufb01", "\ufb01")) // fi ligature: compatibility-only, NFC keeps it
      .toDF("s", "want")
      .selectExpr("graft_nfc(s) AS got", "want")
      .as[(String, String)].collect()
    rows.foreach { case (got, want) => assert(got == want) }
  }

  test("graft_nfc interpreted eval matches codegen path and handles null") {
    Native.register(spark)
    val inputs = Seq(Some("e\u0301 A\u030a"), Some("ascii"), None)
    val df = inputs.toDF("s")
    // codegen path (whole-stage projection)
    val gen = df.selectExpr("graft_nfc(s) AS n").collect()
      .map(r => Option(r.getString(0)))
    // interpreted path: eval the expression directly
    val interp = inputs.map(_.map { s =>
      graft.functions.NfcNormalize(
        org.apache.spark.sql.catalyst.expressions.Literal(
          org.apache.spark.unsafe.types.UTF8String.fromString(s),
          org.apache.spark.sql.types.StringType))
        .eval(null).asInstanceOf[org.apache.spark.unsafe.types.UTF8String]
        .toString
    })
    assert(gen.toSeq == interp)
    assert(interp == Seq(Some("\u00e9 \u00c5"), Some("ascii"), None))
  }

  test("graft_nfc rejects non-string input at analysis time") {
    Native.register(spark)
    val err = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT graft_nfc(42)").collect()
    }
    assert(err.getMessage.toLowerCase.contains("string"))
  }

  test("graft_dot handles arbitrary dims and nulls") {
    Native.register(spark)
    val df = Seq(
      (Some(Array(1.0, 2.0, 3.0)), Some(Array(4.0, 5.0, 6.0))),
      (None, Some(Array(1.0))),
      (Some(Array(2.0)), Some(Array(8.0))))
      .toDF("a", "b")
      .selectExpr("graft_dot(a, b) AS d")
    val got = df.collect().map(r => if (r.isNullAt(0)) None else Some(r.getDouble(0)))
    assert(got.toSeq == Seq(Some(32.0), None, Some(16.0)))
  }

  test("graft_topk == window-rank top-k under heavy repartitioning") {
    Native.register(spark)
    // deterministic values with many exact ties, spread over 16
    // partitions so partial heaps + serialize/merge genuinely run
    val df = spark.range(0, 2000).repartition(16)
      .selectExpr("CAST(id % 7 AS STRING) AS grp",
        "CAST((id * 37) % 211 AS BIGINT) AS v")
    df.createOrReplaceTempView("nfs_topk_in")
    val heap = spark.sql(
      """SELECT grp, graft_topk(v, 10) AS top FROM nfs_topk_in GROUP BY grp""")
      .selectExpr("grp", "top").collect()
      .map(r => r.getString(0) -> r.getSeq[Long](1).toSeq).toMap
    val ranked = spark.sql(
      """SELECT grp, v FROM (
           SELECT grp, v, row_number() OVER
             (PARTITION BY grp ORDER BY v DESC) AS rk FROM nfs_topk_in)
         WHERE rk <= 10""")
      .collect().map(r => (r.getString(0), r.getLong(1)))
      .groupBy(_._1).map { case (g, vs) => g -> vs.map(_._2).sorted.reverse.toSeq }
    assert(heap == ranked)
  }

  test("graft_topk: k larger than the group returns the whole group sorted") {
    Native.register(spark)
    val got = Seq(("a", 3L), ("a", 1L), ("a", 2L), ("b", 9L))
      .toDF("g", "v")
      .groupBy("g").agg(expr("graft_topk(v, 100)").as("top"))
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1).toSeq).toMap
    assert(got("a") == Seq(3L, 2L, 1L))
    assert(got("b") == Seq(9L))
  }

  test("graft_topk skips nulls and rejects bad arguments at analysis time") {
    Native.register(spark)
    val got = Seq(("a", Some(5L)), ("a", None), ("a", Some(7L)))
      .toDF("g", "v")
      .groupBy("g").agg(expr("graft_topk(v, 2)").as("top"))
      .collect().map(r => r.getSeq[Long](1).toSeq)
    assert(got.head == Seq(7L, 5L))
    Seq(("a", 1L)).toDF("g", "v").createOrReplaceTempView("nfs_topk_bad")
    val nonLiteral = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT graft_topk(v, CAST(v AS INT)) FROM nfs_topk_bad GROUP BY g").collect()
    }
    assert(nonLiteral.getMessage.toLowerCase.contains("literal"))
    val badK = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT graft_topk(v, 0) FROM nfs_topk_bad GROUP BY g").collect()
    }
    assert(badK.getMessage.contains("k > 0"))
    // an absurd k must die at ANALYSIS time, not as a 16 GB per-group
    // buffer allocation at execution time
    val hugeK = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT graft_topk(v, 2000000000) FROM nfs_topk_bad GROUP BY g").collect()
    }
    assert(hugeK.getMessage.contains("k <="))
  }
}
