package graft.sources

import java.nio.file.Paths

/** Table properties: engine-namespaced (`graft.*`) key/values persist
  * in the manifest's `#props:` header (absent when empty —
  * byte-compatible with every older manifest), survive appends and
  * overwrites, surface through SHOW TBLPROPERTIES, and fold under
  * ALTER TABLE SET/UNSET like any versioned commit. The load-bearing
  * property is `graft.ledger.rowLevelMode=mor` — declared at CREATE
  * TABLE it routes SQL row-level ops to the delta (deletion-vector)
  * path with no session conf, the Delta enableDeletionVectors shape.
  */
class TablePropertiesSpec extends graft.SparkSpec {

  private val root = {
    LedgerGate.initCatalog(spark)
    LedgerGate.catalogRoot
  }

  private def manifest(name: String) =
    LedgerSink.readManifest(Paths.get(root, "props", name)).get

  private def fresh(name: String, tblProps: String = ""): String = {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_cat.props")
    val t = s"graft_cat.props.$name"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.sql(s"CREATE TABLE $t (id BIGINT, v BIGINT)" +
      (if (tblProps.nonEmpty) s" TBLPROPERTIES ($tblProps)" else ""))
    spark.sql(s"INSERT INTO $t SELECT id, id * 10 FROM range(100)")
    t
  }

  test("graft.* properties persist, survive append/overwrite, SHOW works") {
    val t = fresh("basic",
      "'graft.ledger.rowLevelMode'='mor', 'graft.note'='a=b,c%d'")
    assert(manifest("basic").props == Map(
      "graft.ledger.rowLevelMode" -> "mor", "graft.note" -> "a=b,c%d"),
      "escaped round-trip through the #props header")
    spark.sql(s"INSERT INTO $t SELECT id, id FROM range(100, 110)")
    assert(manifest("basic").props.size == 2, "append keeps props")
    spark.sql(s"INSERT OVERWRITE $t SELECT id, id FROM range(5)")
    assert(manifest("basic").props.size == 2, "overwrite keeps props")
    val shown = spark.sql(s"SHOW TBLPROPERTIES $t").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(shown.get("graft.note").contains("a=b,c%d"), shown.toString)
  }

  test("rowLevelMode=mor as a table property routes DELETE to the delta path") {
    graft.SparkSpec.rowLevelConfLock.synchronized {
    spark.conf.unset("graft.ledger.rowLevelMode")
    val t = fresh("morprop", "'graft.ledger.rowLevelMode'='mor'")
    val pre = manifest("morprop").files.map(_.file).toSet
    spark.sql(s"DELETE FROM $t WHERE id % 3 = 0")
    val m = manifest("morprop")
    assert(m.files.map(_.file).toSet == pre,
      "property-declared MoR must not rewrite files")
    assert(m.files.exists(_.dv.nonEmpty))
    assert(spark.sql(s"SELECT count(*) FROM $t").head().getLong(0)
      == (0 until 100).count(_ % 3 != 0))
    // the declared property wins over a session conf set to cow
    try {
      spark.conf.set("graft.ledger.rowLevelMode", "cow")
      spark.sql(s"DELETE FROM $t WHERE id % 7 = 0")
      val m2 = manifest("morprop")
      assert(m2.files.map(_.file).toSet == pre,
        "conf=cow must not rewrite a table that declares mor")
      assert(m2.files.map(_.dv).toSet != m.files.map(_.dv).toSet,
        "the second delete must install deletion vectors")
      assert(spark.sql(s"SELECT count(*) FROM $t").head().getLong(0)
        == (0 until 100).count(i => i % 3 != 0 && i % 7 != 0))
    } finally spark.conf.unset("graft.ledger.rowLevelMode")
    }
  }

  test("the mor gates hold their verdicts under a session conf of cow, and leave it set") {
    graft.SparkSpec.rowLevelConfLock.synchronized {
    try {
      spark.conf.set("graft.ledger.rowLevelMode", "cow")
      val verdicts = Map(
        "dsv2_merge_mor" -> Seq("files_preserved", "one_commit", "dv_present"),
        "dsv2_stream_upsert" -> Seq("mor_dvs", "base_files_kept"),
        "dedup_kill_list_mor" -> Seq("files_preserved", "dv_present", "one_commit"))
      verdicts.foreach { case (q, cols) =>
        val row = graft.SparkEntry.queries(q)(spark, sfTiny).head()
        cols.foreach(c => assert(row.getAs[Int](c) == 1, s"$q.$c"))
        assert(spark.conf.getOption("graft.ledger.rowLevelMode").contains("cow"),
          s"$q changed the session conf")
      }
    } finally spark.conf.unset("graft.ledger.rowLevelMode")
    }
  }

  test("ALTER TABLE SET/UNSET TBLPROPERTIES is a versioned commit") {
    graft.SparkSpec.rowLevelConfLock.synchronized {
    spark.conf.unset("graft.ledger.rowLevelMode")
    val t = fresh("alterp")
    assert(manifest("alterp").props.isEmpty)
    spark.sql(s"ALTER TABLE $t SET TBLPROPERTIES " +
      "('graft.ledger.rowLevelMode'='mor')")
    val pre = manifest("alterp").files.map(_.file).toSet
    spark.sql(s"DELETE FROM $t WHERE id < 10")
    assert(manifest("alterp").files.map(_.file).toSet == pre)
    spark.sql(s"ALTER TABLE $t UNSET TBLPROPERTIES " +
      "('graft.ledger.rowLevelMode')")
    spark.sql(s"DELETE FROM $t WHERE id >= 90")
    // COW rewrites the scanned files (fresh names for at least those;
    // stats-pruned files legitimately survive); MoR would have kept
    // the name set identical and only added DVs
    assert(manifest("alterp").files.map(_.file).toSet != pre,
      "unset restores the COW default")
    // non-namespaced keys are refused honestly
    intercept[Exception] {
      spark.sql(s"ALTER TABLE $t SET TBLPROPERTIES ('foo'='bar')")
    }: Unit
    }
  }
}
