package graft.sources

/** Row-level DELETE/UPDATE/MERGE on ledger tables through plain SQL —
  * the group-based copy-on-write path. Pins: non-file-aligned
  * predicates take the COW route and compute exact survivors, UPDATE
  * rewrites only what it must, MERGE handles matched/not-matched arms,
  * files the scan skipped are not rewritten, and every row-level
  * commit is itself a time-travel version. */
class RowLevelOpsSpec extends graft.SparkSpec {

  private def installed(): String = {
    LedgerGate.initCatalog(spark)
    LedgerGate.catalogRoot
  }

  private def freshTable(name: String, n: Long): String = {
    installed()
    val t = s"graft_cat.rlo.$name"
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_cat.rlo")
    spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.sql(s"CREATE TABLE $t (id BIGINT, v BIGINT)")
    spark.sql(s"INSERT INTO $t SELECT id, id * 10 FROM range($n)")
    t
  }

  test("DELETE with a non-file-aligned predicate computes exact survivors") {
    val t = freshTable("del", 1000)
    spark.sql(s"DELETE FROM $t WHERE id % 3 = 0")
    val got = spark.sql(s"SELECT count(*), sum(id) FROM $t").collect().head
    val ids = (0L until 1000L).filter(_ % 3 != 0)
    assert(got.getLong(0) == ids.size && got.getLong(1) == ids.sum,
      s"survivors wrong: $got")
  }

  test("UPDATE rewrites values in place") {
    val t = freshTable("upd", 100)
    spark.sql(s"UPDATE $t SET v = v + 1 WHERE id >= 90")
    val got = spark.sql(s"SELECT sum(v) FROM $t").collect().head.getLong(0)
    val want = (0L until 100L).map(i => i * 10 + (if (i >= 90) 1 else 0)).sum
    assert(got == want, s"update sum: $got != $want")
  }

  test("MERGE INTO: matched update + not-matched insert") {
    val t = freshTable("mrg", 10)
    spark.range(5, 15).selectExpr("id", "id * 100 AS v")
      .createOrReplaceTempView("rlo_src")
    spark.sql(
      s"""MERGE INTO $t AS tgt USING rlo_src AS src ON tgt.id = src.id
          WHEN MATCHED THEN UPDATE SET v = src.v
          WHEN NOT MATCHED THEN INSERT (id, v) VALUES (src.id, src.v)""")
    val rows = spark.sql(s"SELECT id, v FROM $t ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val want = (0L until 5L).map(i => (i, i * 10)) ++
      (5L until 15L).map(i => (i, i * 100))
    assert(rows == want, s"merge result: $rows")
  }

  test("stats-pruned files are not rewritten by a COW delete") {
    installed()
    val t = "graft_cat.rlo.pruned"
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_cat.rlo")
    spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.sql(s"CREATE TABLE $t (id BIGINT, v BIGINT)")
    // two distinct id ranges in two separate commits -> distinct files
    spark.sql(s"INSERT INTO $t SELECT id, id FROM range(0, 100)")
    spark.sql(s"INSERT INTO $t SELECT id, id FROM range(1000, 1100)")
    val root = java.nio.file.Paths.get(LedgerGate.catalogRoot, "rlo", "pruned")
    val before = LedgerSink.readManifest(root).get.files.map(_.file).toSet
    // range predicate prunes to the low file but is NOT file-aligned
    // (id < 50 splits the first file), so COW rewrites only that file
    spark.sql(s"DELETE FROM $t WHERE id >= 10 AND id < 50")
    val after = LedgerSink.readManifest(root).get.files.map(_.file).toSet
    val untouchedHigh = before.filter(after.contains)
    assert(untouchedHigh.nonEmpty,
      s"high-range file should have survived unrewritten: $before -> $after")
    val got = spark.sql(s"SELECT count(*), sum(id) FROM $t").collect().head
    val ids = (0L until 100L).filterNot(i => i >= 10 && i < 50) ++
      (1000L until 1100L)
    assert(got.getLong(0) == ids.size && got.getLong(1) == ids.sum)
  }

  test("a row-level commit is a time-travel version like any other") {
    val t = freshTable("ttv", 50)
    spark.sql(s"DELETE FROM $t WHERE id % 2 = 0")
    assert(spark.sql(s"SELECT count(*) FROM $t").collect().head.getLong(0) == 25)
    // version before the delete: create(v1), insert archived as v2
    val pre = spark.sql(s"SELECT count(*) FROM $t VERSION AS OF 2")
      .collect().head.getLong(0)
    assert(pre == 50, s"pre-delete snapshot: $pre")
  }
}
