package graft.sources

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame

/** Time travel below the oracle's reach: the version chain grows one
  * archive per replacing commit, a metadata DELETE's old snapshot
  * stays readable (dropped files survive while a version references
  * them), snapshots are read-only, vacuum reclaims exactly the
  * unreferenced files, and unknown versions fail loudly with the
  * available range. */
class LedgerTimeTravelSpec extends graft.SparkSpec {

  private def freshDir() = {
    val d = Files.createTempDirectory("ledger_tt_spec")
    Files.delete(d)
    d
  }

  private def write(dir: java.nio.file.Path, df: DataFrame,
      mode: String = "overwrite"): Unit =
    df.write.format(classOf[LedgerSink].getName)
      .option("path", dir.toString).mode(mode).save()

  private def read(dir: java.nio.file.Path, v: Option[Int] = None): DataFrame = {
    val r = spark.read.format(classOf[LedgerSink].getName)
      .option("path", dir.toString)
    v.fold(r)(x => r.option("versionAsOf", x.toString)).load()
  }

  test("every replacing commit archives one version; snapshots are immutable") {
    val dir = freshDir()
    write(dir, spark.range(0, 10).selectExpr("id"))
    assert(LedgerSink.currentVersion(dir) == 1)
    write(dir, spark.range(0, 5).selectExpr("id"))
    write(dir, spark.range(100, 103).selectExpr("id"), mode = "append")
    assert(LedgerSink.archivedVersions(dir) == Seq(1, 2))
    assert(LedgerSink.currentVersion(dir) == 3)
    assert(read(dir, Some(1)).count() == 10)
    assert(read(dir, Some(2)).count() == 5)
    assert(read(dir, Some(3)).count() == 8, "live version readable by number")
    assert(read(dir).count() == 8)
  }

  test("metadata DELETE keeps the pre-delete snapshot readable") {
    val dir = freshDir()
    write(dir, spark.range(0, 100).selectExpr("id"))
    // file-aligned range delete through the SQL path
    spark.read.format(classOf[LedgerSink].getName)
      .option("path", dir.toString).load()
      .createOrReplaceTempView("tt_del_probe")
    val table = new LedgerTable(dir,
      org.apache.spark.sql.types.StructType.fromDDL("id BIGINT"))
    // whole-table delete is always file-aligned
    table.deleteWhere(
      Array[org.apache.spark.sql.sources.Filter](
        org.apache.spark.sql.sources.GreaterThanOrEqual("id", 0L)))
    assert(read(dir).count() == 0, "live table should be empty")
    val v1 = read(dir, Some(1))
    assert(v1.count() == 100,
      "pre-delete snapshot lost rows — dropped files must survive " +
        "while a version references them")
  }

  test("writes and deletes on a versionAsOf snapshot are refused") {
    val dir = freshDir()
    write(dir, spark.range(0, 3).selectExpr("id"))
    write(dir, spark.range(0, 4).selectExpr("id"))
    val e = intercept[Exception] {
      spark.range(0, 1).selectExpr("id")
        .write.format(classOf[LedgerSink].getName)
        .option("path", dir.toString).option("versionAsOf", "1")
        .mode("append").save()
    }
    assert(e.getMessage.contains("snapshot"), e.getMessage)
  }

  test("vacuum reclaims exactly the files no version references") {
    val dir = freshDir()
    write(dir, spark.range(0, 10).selectExpr("id"))
    write(dir, spark.range(0, 5).selectExpr("id")) // v1 archived; its files orphan-ish but referenced
    // a true orphan: an aborted attempt's leftover
    Files.write(dir.resolve("_staging/part-99-99.ledger"),
      "9\n".getBytes("UTF-8"))
    val removed = LedgerSink.vacuum(dir, olderThanMillis = 0L)
    assert(removed == Seq("_staging/part-99-99.ledger"),
      s"vacuum removed the wrong set: $removed")
    assert(read(dir, Some(1)).count() == 10, "referenced files must survive vacuum")
    // expire version 1 through the retention API, vacuum reclaims its files
    write(dir, spark.range(0, 7).selectExpr("id")) // v3, so v1 can expire
    assert(LedgerRefs.expireVersions(dir, keepLast = 1) == Seq(1))
    val reclaimed = LedgerSink.vacuum(dir, olderThanMillis = 0L)
    assert(reclaimed.nonEmpty, "expired version's files should be reclaimed")
    assert(read(dir).count() == 7, "live table untouched by vacuum")
  }

  test("SQL VERSION AS OF resolves through the catalog plugin") {
    LedgerGate.initCatalog(spark)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_cat.ttns")
    spark.sql("DROP TABLE IF EXISTS graft_cat.ttns.t")
    spark.sql("CREATE TABLE graft_cat.ttns.t (id BIGINT)")
    spark.sql("INSERT INTO graft_cat.ttns.t SELECT id FROM range(10)")
    spark.sql("INSERT INTO graft_cat.ttns.t SELECT id FROM range(100, 103)")
    // create=v1 (empty), first insert archived as v2, live holds 13
    assert(spark.sql("SELECT count(*) FROM graft_cat.ttns.t")
      .collect().head.getLong(0) == 13)
    assert(spark.sql("SELECT count(*) FROM graft_cat.ttns.t VERSION AS OF 2")
      .collect().head.getLong(0) == 10)
    assert(spark.sql("SELECT count(*) FROM graft_cat.ttns.t VERSION AS OF 1")
      .collect().head.getLong(0) == 0, "creation snapshot is empty")
  }

  test("unknown version fails with the available range") {
    val dir = freshDir()
    write(dir, spark.range(0, 3).selectExpr("id"))
    val e = intercept[Exception] { read(dir, Some(9)).count() }
    assert(e.getMessage.contains("no version 9"), e.getMessage)
  }
}
