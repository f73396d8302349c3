package graft.sources

import java.nio.file.Paths

/** The DELTA row-level path (`graft.ledger.rowLevelMode=mor`): SQL
  * DELETE/UPDATE/MERGE plan Spark's WriteDelta against the
  * (_file, _pos) rowId and commit deletion vectors + appended files
  * instead of rewriting touched files. Pins:
  *   - metadata columns `_file`/`_pos` are selectable and physical
  *     (ordinals survive other rows' deletion);
  *   - a MoR DELETE leaves every pre-delete file name in place and
  *     attaches DVs (a COW delete mints fresh names — that contrast
  *     is asserted too);
  *   - a MoR MERGE's update/delete/insert arms land as ONE version:
  *     DVs on touched files, appended files for updates+inserts,
  *     untouched files untouched, time travel sees the pre-state;
  *   - the path composes with partitioned tables (inserted rows are
  *     partition-placed; pruning still exact afterward) and with a
  *     prior deleteMoR (DV union, not replacement). */
class DeltaRowLevelSpec extends graft.SparkSpec {

  private val root = {
    LedgerGate.initCatalog(spark)
    LedgerGate.catalogRoot
  }

  private def freshTable(name: String, n: Long,
      partitioned: Boolean = false): String = {
    val t = s"graft_cat.dlt.$name"
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_cat.dlt")
    spark.sql(s"DROP TABLE IF EXISTS $t")
    if (partitioned)
      spark.sql(s"CREATE TABLE $t (id BIGINT, v BIGINT, p BIGINT) " +
        "PARTITIONED BY (p)")
    else spark.sql(s"CREATE TABLE $t (id BIGINT, v BIGINT)")
    val pcol = if (partitioned) ", id % 4 AS p" else ""
    spark.sql(s"INSERT INTO $t SELECT id, id * 10 AS v$pcol FROM range($n)")
    t
  }

  private def dirOf(name: String) = Paths.get(root, "dlt", name)

  private def manifest(name: String) =
    LedgerSink.readManifest(dirOf(name)).get

  // the row-level-mode session conf is JVM-shared (one SparkSession
  // across parallel suites): every section that sets OR depends on it
  // holds the same lock, and restore means UNSET — leaving "cow" set
  // would override TABLE-PROPERTY routing in concurrently-running
  // suites (the TablePropertiesSpec flake)
  private def inMor[A](f: => A): A =
    graft.SparkSpec.rowLevelConfLock.synchronized {
      try { spark.conf.set("graft.ledger.rowLevelMode", "mor"); f }
      finally spark.conf.unset("graft.ledger.rowLevelMode")
    }

  test("_file/_pos metadata columns: selectable, physical, DV-stable") {
    val t = freshTable("meta", 100)
    val before = spark.sql(s"SELECT id, _file, _pos FROM $t")
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2)))
      .toMap
    assert(before.size == 100)
    assert(before.values.map(_._1).toSet.nonEmpty)
    // ordinals are physical: deleting OTHER rows via deleteMoR must
    // not renumber the survivors
    LedgerMaintenance.deleteMoR(spark, dirOf("meta").toString,
      Array(org.apache.spark.sql.sources.LessThan("id", 10L)))
    val after = spark.sql(s"SELECT id, _file, _pos FROM $t")
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2)))
      .toMap
    assert(after.size == 90)
    after.foreach { case (id, fp) =>
      assert(before(id) == fp, s"row $id changed identity: $fp") }
  }

  test("MoR DELETE: DVs instead of rewrites; COW contrast") {
    val t = freshTable("del", 1000)
    val preFiles = manifest("del").files.map(_.file).toSet
    inMor { spark.sql(s"DELETE FROM $t WHERE id % 3 = 0") }
    val m = manifest("del")
    assert(m.files.map(_.file).toSet == preFiles,
      "MoR delete must not add or rewrite any data file")
    assert(m.files.exists(_.dv.nonEmpty), "a DV sidecar must exist")
    val ids = (0L until 1000L).filterNot(_ % 3 == 0)
    val got = spark.sql(s"SELECT count(*) AS n, sum(id) AS s FROM $t")
      .collect().head
    assert(got.getLong(0) == ids.size && got.getLong(1) == ids.sum)
    // the default path on the same shape rewrites files (fresh names)
    val t2 = freshTable("delcow", 1000)
    val preCow = manifest("delcow").files.map(_.file).toSet
    spark.sql(s"DELETE FROM $t2 WHERE id % 3 = 0")
    val mCow = manifest("delcow")
    assert(mCow.files.map(_.file).toSet.intersect(preCow).isEmpty,
      "COW delete replaces the scanned files")
    assert(mCow.files.forall(_.dv.isEmpty))
  }

  test("MoR MERGE: update+delete+insert arms, one version, no rewrite") {
    val t = freshTable("mrg", 100)
    val dir = dirOf("mrg")
    val preFiles = manifest("mrg").files.map(_.file).toSet
    val preVersion = LedgerSink.currentVersion(dir)
    spark.range(0, 130).selectExpr("id",
      "CASE WHEN id % 10 = 0 THEN 'del' ELSE 'upd' END AS kind",
      "id * 1000 AS nv").createOrReplaceTempView("dlt_src")
    inMor {
      spark.sql(
        s"""MERGE INTO $t AS tgt USING dlt_src AS src ON tgt.id = src.id
            WHEN MATCHED AND src.kind = 'del' THEN DELETE
            WHEN MATCHED THEN UPDATE SET v = src.nv
            WHEN NOT MATCHED THEN INSERT (id, v) VALUES (src.id, src.nv)""")
    }
    assert(LedgerSink.currentVersion(dir) == preVersion + 1,
      "the whole MERGE must be one commit")
    val m = manifest("mrg")
    assert(preFiles.subsetOf(m.files.map(_.file).toSet),
      "MoR merge must keep every pre-merge file")
    assert(m.files.exists(_.dv.nonEmpty))
    assert(m.files.map(_.file).toSet.size > preFiles.size,
      "updates+inserts append new files")
    // expected state: matched%10==0 deleted; other matched -> id*1000;
    // 100..129 inserted (id*1000)
    val want = (0L until 100L).filterNot(_ % 10 == 0).map(i => i -> i * 1000) ++
      (100L until 130L).map(i => i -> i * 1000)
    val got = spark.sql(s"SELECT id, v FROM $t ORDER BY id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toSeq
    assert(got == want.sortBy(_._1), s"merge state wrong: ${got.take(12)}")
    // time travel: the pre-merge version is intact
    val pre = spark.read.format(classOf[LedgerSink].getName)
      .option("path", dir.toString)
      .option("versionAsOf", preVersion.toString).load()
    assert(pre.count() == 100)
  }

  test("MoR UPDATE on a partitioned table: placed inserts, exact pruning") {
    val t = freshTable("updp", 200, partitioned = true)
    val preFiles = manifest("updp").files.map(_.file).toSet
    inMor { spark.sql(s"UPDATE $t SET v = v + 1 WHERE id % 5 = 0") }
    val m = manifest("updp")
    assert(preFiles.subsetOf(m.files.map(_.file).toSet))
    assert(m.files.exists(_.dv.nonEmpty))
    // every appended file carries a partition tuple
    val appended = m.files.filterNot(e => preFiles(e.file))
    assert(appended.nonEmpty && appended.forall(_.partVals.nonEmpty),
      "updated rows must be partition-placed")
    val want = (0L until 200L)
      .map(i => i * 10 + (if (i % 5 == 0) 1 else 0)).sum
    assert(spark.sql(s"SELECT sum(v) FROM $t").collect().head.getLong(0)
      == want)
    // partition pruning still exact: p = 2 reads only that partition
    val got = spark.sql(s"SELECT count(*) FROM $t WHERE p = 2")
      .collect().head.getLong(0)
    assert(got == (0L until 200L).count(_ % 4 == 2))
  }

  test("MoR DELETE composes with a prior deleteMoR (DV union)") {
    val t = freshTable("comp", 100)
    val dir = dirOf("comp").toString
    LedgerMaintenance.deleteMoR(spark, dir,
      Array(org.apache.spark.sql.sources.LessThan("id", 10L)))
    inMor { spark.sql(s"DELETE FROM $t WHERE id >= 90") }
    val ids = (10L until 90L)
    val got = spark.sql(s"SELECT count(*) AS n, sum(id) AS s FROM $t")
      .collect().head
    assert(got.getLong(0) == ids.size && got.getLong(1) == ids.sum,
      s"DV union broken: $got")
  }
}
