package graft.sources

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.types.IntegerType

/** The ledger gate harness: scratch and catalog tables always start
  * fresh at the paths the gates have always used, and the verdict and
  * digest columns keep the types and names the oracles hash. */
class LedgerGateSpec extends graft.SparkSpec {

  private val sf = "/spec/ledger-gate.sf"
  private val tmp = System.getProperty("java.io.tmpdir")

  test("scratch wipes an earlier run's table and keeps the gate path") {
    val first = LedgerGate.scratch(spark, "wap", sf)
    assert(first.dir == s"$tmp/graft_ledger_wap__spec_ledger_gate_sf")
    assert(LedgerGate.scratch(spark, "rt", sf, "_tt").dir ==
      s"$tmp/graft_ledger_rt__spec_ledger_gate_sf_tt")
    first.write(spark.range(5).toDF("k"), "overwrite")
    Files.writeString(first.root.resolve("leftover.txt"), "stale")
    assert(LedgerSink.currentVersion(first.root) == 1)

    val again = LedgerGate.scratch(spark, "wap", sf)
    assert(again.dir == first.dir)
    assert(!Files.exists(again.root), "scratch must wipe the earlier run")
    again.write(spark.range(3).toDF("k"), "overwrite")
    assert(LedgerSink.currentVersion(again.root) == 1)
    assert(again.read().count() == 3)
  }

  test("catalogTable over a non-table leftover directory is a fresh v1 table") {
    LedgerGate.initCatalog(spark)
    val leftover = Paths.get(LedgerGate.catalogRoot, "lgspec",
      s"t_${LedgerGate.tag(sf)}")
    // a crashed drop: data files and staging, but no manifest
    Files.createDirectories(leftover.resolve("_staging"))
    Files.writeString(leftover.resolve("_staging").resolve("part-0.ledger"),
      "1|2\n")
    val t = LedgerGate.catalogTable(spark, "lgspec", "t", sf, "(k BIGINT)")
    assert(t.name == s"graft_cat.lgspec.t_${LedgerGate.tag(sf)}")
    assert(t.root == leftover)
    assert(!Files.exists(leftover.resolve("_staging").resolve("part-0.ledger")))
    assert(LedgerSink.currentVersion(t.root) == 1)
    assert(spark.table(t.name).count() == 0)
    spark.sql(s"INSERT INTO ${t.name} VALUES (7)")
    assert(t.read().collect().map(_.getLong(0)).toSeq == Seq(7L))
  }

  test("a flag column is INT 1/0 and a digest keeps its suffixed names") {
    val df = spark.range(1, 4).selectExpr("id AS a", "id * 10 AS b")
    val d = LedgerGate.digest(df, "live", "a" -> "x", "b" -> "y")
    assert(d.columns.toSeq == Seq("n_live", "x_live", "y_live"))
    val out = d.selectExpr("*", LedgerGate.flag("ok", true),
      LedgerGate.flag("bad", false), LedgerGate.intCol("files", 8))
    assert(Seq("ok", "bad", "files").forall(out.schema(_).dataType == IntegerType))
    val row = out.collect().head
    assert(row.toSeq == Seq(3L, 6L, 60L, 1, 0, 8))
    assert(LedgerGate.longCols(row, "n_base", "x_base") ==
      Seq("CAST(3 AS BIGINT) AS n_base", "CAST(6 AS BIGINT) AS x_base"))
  }

  test("fails and refuses catch only the named failure") {
    assert(LedgerGate.fails[IllegalArgumentException](require(false)))
    assert(!LedgerGate.fails[IllegalArgumentException](()))
    assertThrows[IllegalStateException](
      LedgerGate.fails[IllegalArgumentException](throw new IllegalStateException("x")))
    val nested = new RuntimeException("outer",
      new IllegalStateException("CHECK constraint 'floor' violated"))
    assert(LedgerGate.refuses("CHECK constraint 'floor'")(throw nested))
    assert(!LedgerGate.refuses("CHECK")(()))
    assertThrows[RuntimeException](LedgerGate.refuses("NOT NULL")(throw nested))
  }
}
