package graft.sources

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.sources.{GreaterThanOrEqual, LessThan}

/** Merge-on-read deletion vectors and the row-level change feed, below
  * the oracles' reach:
  *   - deleteMoR writes position-delete sidecars (no data file is
  *     rewritten), scans merge them, repeated deletes union ordinals,
  *     time travel sees the pre-delete rows, vacuum never reclaims a
  *     referenced sidecar, and OPTIMIZE rewrites the DVs away;
  *   - readChangeFeed emits the exact multiset diff per version:
  *     MoR/COW deletes as `delete` rows, appends as `insert` rows, an
  *     OPTIMIZE step as NOTHING (rewritten-identical rows cancel), and
  *     pre-state + inserts − deletes reconstructs the post-state;
  *   - the legacy append-only CDC read refuses a DV-only change
  *     instead of silently serving a stale snapshot. */
class MorDeleteCdfSpec extends graft.SparkSpec {
  import spark.implicits._

  private val ledger = classOf[LedgerSink].getName

  private def freshDir() = {
    val d = Files.createTempDirectory("ledger_mor_spec")
    Files.delete(d)
    d.toString
  }

  private def write(dir: String, df: DataFrame, mode: String): Unit =
    df.write.format(ledger).option("path", dir).mode(mode).save()

  private def read(dir: String, v: Option[Int] = None): DataFrame = {
    val r = spark.read.format(ledger).option("path", dir)
    v.fold(r)(x => r.option("versionAsOf", x.toString)).load()
  }

  private def cdf(dir: String, from: Int, to: Int): DataFrame =
    spark.read.format(ledger).option("path", dir)
      .option("readChangeFeed", "true")
      .option("changesFromVersion", from.toString)
      .option("changesToVersion", to.toString).load()

  test("deleteMoR: sidecar deletes, union, time travel, optimize compacts away") {
    val dir = freshDir()
    write(dir, spark.range(0, 100).selectExpr("id"), "overwrite")   // v1
    val n1 = LedgerMaintenance.deleteMoR(spark, dir,
      Array(LessThan("id", 10L)))                                   // v2
    assert(n1 == 10)
    assert(read(dir).count() == 90)
    val m2 = LedgerSink.readManifest(Paths.get(dir)).get
    assert(m2.files.exists(_.dv.nonEmpty), "a DV sidecar must exist")
    assert(read(dir, Some(1)).count() == 100, "time travel sees pre-delete")
    // second delete UNIONS ordinals (possibly on the same files)
    val n2 = LedgerMaintenance.deleteMoR(spark, dir,
      Array(GreaterThanOrEqual("id", 95L)))                         // v3
    assert(n2 == 5)
    assert(read(dir).count() == 85)
    assert(read(dir).agg(org.apache.spark.sql.functions.sum("id"))
      .head().getLong(0) == (10L until 95L).sum)
    // deleting already-deleted rows is a no-op (no new version)
    val v3 = LedgerSink.currentVersion(Paths.get(dir))
    assert(LedgerMaintenance.deleteMoR(spark, dir,
      Array(LessThan("id", 5L))) == 0L)
    assert(LedgerSink.currentVersion(Paths.get(dir)) == v3)
    // vacuum keeps referenced sidecars
    assert(LedgerSink.vacuum(Paths.get(dir), olderThanMillis = 0L).isEmpty)
    // OPTIMIZE compacts the DVs away; digest unchanged
    val (fb, fa) = LedgerMaintenance.optimize(spark, dir)           // v4
    assert(fa <= fb)
    val m4 = LedgerSink.readManifest(Paths.get(dir)).get
    assert(m4.files.forall(_.dv.isEmpty), "OPTIMIZE must clear DVs")
    assert(read(dir).count() == 85)
    assert(read(dir).agg(org.apache.spark.sql.functions.sum("id"))
      .head().getLong(0) == (10L until 95L).sum)
    // pre-OPTIMIZE version still reads through its DV
    assert(read(dir, Some(v3)).count() == 85)
  }

  test("change feed: deletes, inserts, silent OPTIMIZE, exact reconstruction") {
    val dir = freshDir()
    write(dir, spark.range(0, 20).selectExpr("id"), "overwrite")    // v1
    LedgerMaintenance.deleteMoR(spark, dir,
      Array(LessThan("id", 5L))): Unit                              // v2
    write(dir, spark.range(100, 110).selectExpr("id"), "append")    // v3
    LedgerMaintenance.optimize(spark, dir): Unit                    // v4
    val feed = cdf(dir, 1, 4)
      .selectExpr("id", "_change_type", "_commit_version")
      .as[(Long, String, Int)].collect().toSeq
    assert(feed.filter(_._2 == "delete").map(_._1).sorted ==
      (0L until 5L), s"v2 must emit exactly the MoR-deleted rows: $feed")
    assert(feed.filter(_._2 == "insert").map(_._1).sorted ==
      (100L until 110L), "v3 must emit exactly the appended rows")
    assert(feed.forall(r => r._3 == 2 || r._3 == 3),
      s"the OPTIMIZE step (v4) must emit nothing: $feed")
    // reconstruction: pre(v1) + inserts - deletes == post(v4)
    val pre = read(dir, Some(1)).selectExpr("id")
    val ins = cdf(dir, 1, 4).filter("_change_type = 'insert'").selectExpr("id")
    val del = cdf(dir, 1, 4).filter("_change_type = 'delete'").selectExpr("id")
    val reconstructed = pre.unionByName(ins).exceptAll(del)
      .as[Long].collect().sorted.toSeq
    val post = read(dir).as[Long].collect().sorted.toSeq
    assert(reconstructed == post)
  }

  test("change feed sees a COW update as delete+insert of just the changed rows") {
    val root = s"${System.getProperty("java.io.tmpdir")}/graft_cat_cdf"
    spark.conf.set("spark.sql.catalog.cdfc", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.cdfc.root", root)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS cdfc.s")
    spark.sql("DROP TABLE IF EXISTS cdfc.s.upd")
    spark.sql("CREATE TABLE cdfc.s.upd (k BIGINT, v BIGINT)")        // v1
    spark.range(0, 30).selectExpr("id AS k", "id * 2 AS v")
      .createOrReplaceTempView("cdf_upd_src")
    spark.sql("INSERT INTO cdfc.s.upd SELECT * FROM cdf_upd_src")    // v2
    spark.sql("UPDATE cdfc.s.upd SET v = v + 1000 WHERE k % 10 = 3") // v3
    val dir = s"$root/s/upd"
    val feed = cdf(dir, 2, 3)
      .selectExpr("k", "v", "_change_type")
      .as[(Long, Long, String)].collect().toSeq
    val touched = (0L until 30L).filter(_ % 10 == 3)
    assert(feed.filter(_._3 == "delete").map(r => (r._1, r._2)).sorted ==
      touched.map(k => (k, k * 2)).sorted, s"old rows as deletes: $feed")
    assert(feed.filter(_._3 == "insert").map(r => (r._1, r._2)).sorted ==
      touched.map(k => (k, k * 2 + 1000)).sorted, "new rows as inserts")
    assert(feed.size == touched.size * 2,
      "surviving rows of the rewritten files must cancel")
  }

  test("updateMoR: one atomic commit of DVs + updated rows; CDF pairs them") {
    val dir = freshDir()
    write(dir, spark.range(0, 50).selectExpr("id", "id * 2 AS v"), "overwrite") // v1
    val v1 = LedgerSink.currentVersion(java.nio.file.Paths.get(dir))
    val n = LedgerMaintenance.updateMoR(spark, dir,
      Array(LessThan("id", 10L)), Map("v" -> "v + 1000"))           // v2
    assert(n == 10)
    assert(LedgerSink.currentVersion(java.nio.file.Paths.get(dir)) == v1 + 1,
      "DVs and updated rows must land as ONE commit")
    val got = read(dir).selectExpr("id", "v")
      .as[(Long, Long)].collect().toMap
    assert(got.size == 50)
    (0L until 50L).foreach { i =>
      assert(got(i) == (if (i < 10) i * 2 + 1000 else i * 2)) }
    // the change feed pairs old/new per updated row, nothing else
    val feed = cdf(dir, v1, v1 + 1)
      .selectExpr("id", "v", "_change_type")
      .as[(Long, Long, String)].collect().toSeq
    assert(feed.count(_._3 == "delete") == 10)
    assert(feed.count(_._3 == "insert") == 10)
    assert(feed.filter(_._3 == "delete").forall(r => r._2 == r._1 * 2))
    assert(feed.filter(_._3 == "insert").forall(r => r._2 == r._1 * 2 + 1000))
    // time travel: the pre-update version is intact
    assert(read(dir, Some(v1)).selectExpr("sum(v)").head().getLong(0) ==
      (0L until 50L).map(_ * 2).sum)
    // a second update composes (targets a file that now carries a DV)
    assert(LedgerMaintenance.updateMoR(spark, dir,
      Array(LessThan("id", 3L)), Map("v" -> "v + 1")) == 3)
    assert(read(dir).selectExpr("sum(v)").head().getLong(0) ==
      (0L until 50L).map(i =>
        if (i < 3) i * 2 + 1001 else if (i < 10) i * 2 + 1000 else i * 2).sum)
    // partitioned targets: the update images stage WITH their
    // partition tuples (the delta writer keys them under the target's
    // spec), so MoR updates work and pruning still holds
    val pdir = freshDir()
    spark.range(0, 10).selectExpr("id", "id % 2 AS p")
      .write.format(ledger).option("path", pdir).partitionBy("p")
      .mode("overwrite").save()
    assert(LedgerMaintenance.updateMoR(spark, pdir,
      Array(LessThan("id", 5L)), Map("id" -> "id + 100")) == 5)
    val prows = spark.read.format(ledger).option("path", pdir).load()
    assert(prows.count() == 10)
    assert(prows.selectExpr("sum(id)").head.getLong(0) ==
      (0L until 10L).sum + 5 * 100)
    // every appended update file carries its partition tuple, placed
    // under the value matching its rows' p — partition pruning on the
    // updated table stays exact
    val pm = LedgerSink.readManifest(java.nio.file.Paths.get(pdir)).get
    assert(pm.files.forall(_.partVals.exists(_.length == 1)),
      s"a staged update file lost its partition tuple: ${pm.files}")
    assert(prows.filter("p = 1 AND id >= 100").count() == 2,
      "updated odd ids (1,3) live under p=1")
  }

  test("updateMoR enforces CHECK constraints like SQL UPDATE") {
    val dir = freshDir()
    write(dir, spark.range(0, 10).selectExpr("id", "id AS v"), "overwrite")
    LedgerConstraints.addCheck(spark, dir, "v_nonneg", "v >= 0")
    val root = Paths.get(dir)
    val v0 = LedgerSink.currentVersion(root)
    def rows() = read(dir).selectExpr("id", "v").as[(Long, Long)]
      .collect().sorted.toSeq
    val before = rows()
    val ex = intercept[Exception] {
      LedgerMaintenance.updateMoR(spark, dir,
        Array(org.apache.spark.sql.sources.EqualTo("id", 5L)),
        Map("v" -> "-1"))
    }
    val chain = Iterator.iterate(ex: Throwable)(_.getCause)
      .takeWhile(_ != null).map(String.valueOf(_)).toSeq
    assert(chain.exists(_.contains("CHECK constraint 'v_nonneg'")), chain)
    assert(LedgerSink.currentVersion(root) == v0,
      "a violating update must not commit")
    assert(rows() == before)
  }

  test("deleteMoR rejects filters its evaluator cannot decide") {
    val dir = freshDir()
    write(dir, spark.range(0, 10).selectExpr("id"), "overwrite")
    // wrong literal type: a silent 0-rows-deleted would read as success
    val ex = intercept[IllegalArgumentException] {
      LedgerMaintenance.deleteMoR(spark, dir,
        Array(org.apache.spark.sql.sources.EqualTo("id", "seven")))
    }
    assert(ex.getMessage.contains("cannot compare"))
    // unknown column fails too (fieldIndex throws inside the check)
    intercept[IllegalArgumentException] {
      LedgerMaintenance.deleteMoR(spark, dir,
        Array(org.apache.spark.sql.sources.EqualTo("nope", 1L)))
    }
    assert(read(dir).count() == 10, "failed validation must delete nothing")
  }

  test("streaming change feed: per-version diffs, checkpoint-exact resume") {
    import org.apache.spark.sql.streaming.Trigger
    val dir = freshDir()
    val ckpt = Files.createTempDirectory("ledger_cdf_ck").toString
    write(dir, spark.range(0, 10).selectExpr("id"), "overwrite")    // v1
    LedgerMaintenance.deleteMoR(spark, dir,
      Array(LessThan("id", 3L))): Unit                              // v2
    write(dir, spark.range(100, 105).selectExpr("id"), "append")    // v3
    // the memory sink can't recover a checkpoint; resume goes through
    // the ledger sink (the replication shape)
    val dst = freshDir()
    def drain(): Unit = {
      val q = spark.readStream.format(ledger).option("path", dir)
        .option("readChangeFeed", "true").load()
        .writeStream.format(ledger).option("path", dst)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    drain()
    def rows(): Seq[(Long, String, Int)] =
      read(dst).selectExpr("id", "_change_type", "_commit_version")
        .as[(Long, String, Int)].collect().toSeq
    val r1 = rows()
    assert(r1.filter(r => r._3 == 1 && r._2 == "insert").map(_._1).sorted ==
      (0L until 10L), "v1 replays as inserts")
    assert(r1.filter(_._3 == 2).map(r => (r._2, r._1)).sorted ==
      (0L until 3L).map(("delete", _)), "v2 emits the MoR deletes")
    assert(r1.filter(_._3 == 3).map(_._1).sorted == (100L until 105L))
    assert(r1.size == 18)
    // resume: an updateMoR lands (v4); only its delete+insert pairs flow
    LedgerMaintenance.updateMoR(spark, dir,
      Array(org.apache.spark.sql.sources.EqualTo("id", 100L)),
      Map("id" -> "id + 9000")): Unit                               // v4
    drain()
    val r2 = rows().diff(r1)
    assert(r2.map(r => (r._3, r._2, r._1)).sorted ==
      Seq((4, "delete", 100L), (4, "insert", 9100L)),
      s"resume must consume exactly v4's pair: $r2")
  }

  test("legacy append-only CDC refuses a DV-only change") {
    val dir = freshDir()
    write(dir, spark.range(0, 10).selectExpr("id"), "overwrite")    // v1
    LedgerMaintenance.deleteMoR(spark, dir,
      Array(LessThan("id", 3L))): Unit                              // v2
    val ex = intercept[UnsupportedOperationException] {
      LedgerSink.readChanges(Paths.get(dir), 1, 2)
    }
    assert(ex.getMessage.contains("non-append"))
  }
}
