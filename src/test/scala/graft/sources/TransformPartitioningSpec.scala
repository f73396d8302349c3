package graft.sources

import java.nio.file.Paths

import org.apache.spark.sql.functions._

/** Transform partitioning (bucket(N, col), days(ts)) below the
  * oracle's reach: spec round-trips through the manifest, write-side
  * tuples hold TRANSFORMED values, equality/range predicates prune by
  * transformed value (exact, whole-file), and two tables
  * bucket-co-partitioned on the join key plan a storage-partitioned
  * join with NO shuffle — the Iceberg bucket-SPJ contract, resolved
  * through the catalog's empty-namespace bucket function. */
class TransformPartitioningSpec extends graft.SparkSpec {

  private def initCatalog(): String = {
    val root = s"${System.getProperty("java.io.tmpdir")}/graft_cat_txpart"
    spark.conf.set("spark.sql.catalog.txp", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.txp.root", root)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS txp.s")
    root
  }

  test("bucket spec round-trips the manifest and prunes equality probes") {
    val root = initCatalog()
    spark.sql("DROP TABLE IF EXISTS txp.s.bkt")
    spark.sql("""CREATE TABLE txp.s.bkt (k BIGINT, payload STRING)
      PARTITIONED BY (bucket(4, k))""")
    val dir = s"$root/s/bkt"
    val m0 = LedgerSink.readManifest(Paths.get(dir)).get
    assert(m0.partitionSpec == Seq(LedgerSink.PartField(1, "bucket", 4)))
    spark.range(0, 40)
      .selectExpr("id AS k", "concat('p', id) AS payload")
      .createOrReplaceTempView("txp_bkt_src")
    spark.sql("INSERT INTO txp.s.bkt SELECT k, payload FROM txp_bkt_src")
    val m1 = LedgerSink.readManifest(Paths.get(dir)).get
    // every file's tuple is a bucket NUMBER 0..3, and files exist for
    // all four buckets
    val tuples = m1.files.flatMap(_.partVals).map(_.head).toSet
    assert(tuples == Set("0", "1", "2", "3"))
    // a k-equality prunes to exactly bucket(k)'s files
    val all = m1.files.length
    val b7 = m1.files.count(_.partVals.exists(_.head == "3")) // 7 % 4 = 3
    val planned = LedgerGate.plannedFiles(Paths.get(dir),
      Array(org.apache.spark.sql.sources.EqualTo("k", 7L)))
    assert(planned == b7 && planned < all,
      s"expected the $b7 bucket-3 files of $all, planned $planned")
    // pruning never loses the row
    assert(spark.sql("SELECT payload FROM txp.s.bkt WHERE k = 7")
      .collect().map(_.getString(0)).toSeq == Seq("p7"))
    // bucket tables refuse metadata DELETE by source-column equality
    // (a bucket holds other keys) and fall to the COW path instead —
    // DELETE must still be CORRECT end to end
    spark.sql("DELETE FROM txp.s.bkt WHERE k = 7")
    assert(spark.sql("SELECT count(*) FROM txp.s.bkt").head().getLong(0) == 39)
    assert(spark.table("txp.s.bkt").count() == 39)
  }

  test("days spec prunes point and range probes by day number") {
    val root = initCatalog()
    spark.sql("DROP TABLE IF EXISTS txp.s.dys")
    val dayMs = 86400000L
    // CREATE through the catalog API (SQL's days() parses too, but the
    // API form pins partitionSpecOf directly)
    val cat = spark.sessionState.catalogManager.catalog("txp")
      .asInstanceOf[GraftCatalog]
    val ident = org.apache.spark.sql.connector.catalog.Identifier
      .of(Array("s"), "dys")
    if (cat.tableExists(ident)) { cat.dropTable(ident); () }
    cat.createTable(ident,
      org.apache.spark.sql.types.StructType.fromDDL(
        "ev_id BIGINT, ts BIGINT"),
      Array(org.apache.spark.sql.connector.expressions.Expressions
        .days("ts")),
      java.util.Map.of())
    val dir = s"$root/s/dys"
    // 6 days × 5 events
    spark.range(0, 30)
      .selectExpr("id AS ev_id", s"(id DIV 5) * $dayMs + id * 1000 AS ts")
      .createOrReplaceTempView("txp_dys_src")
    spark.sql("INSERT INTO txp.s.dys SELECT ev_id, ts FROM txp_dys_src")
    val m = LedgerSink.readManifest(Paths.get(dir)).get
    assert(m.partitionSpec.head.kind == "days")
    val dayTuples = m.files.flatMap(_.partVals).map(_.head).toSet
    assert(dayTuples == Set("0", "1", "2", "3", "4", "5"))
    // point probe: ts equality plans only day(ts)'s files
    val eq = LedgerGate.plannedFiles(Paths.get(dir), Array(
      org.apache.spark.sql.sources.EqualTo("ts", 2 * dayMs + 7000L)))
    assert(eq == m.files.count(_.partVals.exists(_.head == "2")))
    // range probe: [day2 start, day3 end] plans exactly days 2..3
    val rng = LedgerGate.plannedFiles(Paths.get(dir), Array(
      org.apache.spark.sql.sources.GreaterThanOrEqual("ts", 2 * dayMs),
      org.apache.spark.sql.sources.LessThan("ts", 4 * dayMs)))
    assert(rng == m.files.count(_.partVals.exists(v =>
      v.head == "2" || v.head == "3")),
      s"day-range pruning planned $rng")
    // and the rows still come back right
    assert(spark.sql(
      s"SELECT count(*) FROM txp.s.dys WHERE ts >= ${2 * dayMs} " +
        s"AND ts < ${4 * dayMs}").head().getLong(0) == 10)
  }

  test("bucket-co-partitioned tables storage-partition-join with no shuffle") {
    initCatalog()
    spark.sql("DROP TABLE IF EXISTS txp.s.fact_a")
    spark.sql("DROP TABLE IF EXISTS txp.s.fact_b")
    spark.sql("""CREATE TABLE txp.s.fact_a (k BIGINT, va BIGINT)
      PARTITIONED BY (bucket(4, k))""")
    spark.sql("""CREATE TABLE txp.s.fact_b (k BIGINT, vb BIGINT)
      PARTITIONED BY (bucket(4, k))""")
    spark.range(0, 64).selectExpr("id AS k", "id * 10 AS va")
      .createOrReplaceTempView("txp_spj_a")
    spark.range(0, 64).selectExpr("id AS k", "id * 100 AS vb")
      .createOrReplaceTempView("txp_spj_b")
    spark.sql("INSERT INTO txp.s.fact_a SELECT * FROM txp_spj_a")
    spark.sql("INSERT INTO txp.s.fact_b SELECT * FROM txp_spj_b")
    val confs = Seq(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1")
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val j = spark.sql(
        """SELECT a.k, va, vb FROM txp.s.fact_a a
           JOIN txp.s.fact_b b ON a.k = b.k""")
      val rows = j.collect()
      assert(rows.length == 64)
      assert(rows.forall(r => r.getLong(1) == r.getLong(0) * 10 &&
        r.getLong(2) == r.getLong(0) * 100))
      val p = j.queryExecution.executedPlan.toString
      assert(!p.contains("Exchange"),
        s"bucket-co-partitioned join still shuffled:\n$p")
    } finally prev.foreach { case (k, v) =>
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }
}
