package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.DataFrame

/** Equality deletes (Iceberg v2) below the `dsv2_equality_upsert`
  * oracle's reach: delete-by-key without reading data files, data-
  * sequence scoping (later appends escape, same-commit upsert rows
  * escape), OPTIMIZE materialization + GC, honesty refusals (metadata
  * aggregates, CDC, change feed), schema-evolution guards, and vacuum
  * protection of the sidecars. */
class EqualityDeleteSpec extends graft.SparkSpec {

  private val ledger = classOf[LedgerSink].getName

  private def freshDir() = {
    val d = Files.createTempDirectory("ledger_eqd_spec")
    Files.delete(d)
    d
  }

  private def write(dir: java.nio.file.Path, df: DataFrame,
      mode: String): Unit =
    df.write.format(ledger).option("path", dir.toString).mode(mode).save()

  private def read(dir: java.nio.file.Path, v: Option[Int] = None)
      : DataFrame = {
    val r = spark.read.format(ledger).option("path", dir.toString)
    v.fold(r)(x => r.option("versionAsOf", x.toString)).load()
  }

  private def ids(dir: java.nio.file.Path): Set[Long] =
    read(dir).select("id").collect().map(_.getLong(0)).toSet

  test("deleteByKeys kills rows without touching data files; time travel sees both states") {
    val dir = freshDir()
    write(dir, spark.range(0, 20).selectExpr("id", "id * 7 AS v"),
      "overwrite")                                                   // v1
    val dataBytes = LedgerSink.readManifest(dir).get.files
      .map(e => e.file -> Files.size(dir.resolve(e.file))).toMap
    val n = LedgerMaintenance.deleteByKeys(spark, dir.toString, Seq("id"),
      spark.range(0, 20).filter("id % 4 = 0").selectExpr("id"))      // v2
    assert(n == 5)
    assert(ids(dir) == (0L until 20L).filterNot(_ % 4 == 0).toSet)
    // no data file was rewritten, moved, or grown
    val after = LedgerSink.readManifest(dir).get
    assert(after.files.map(_.file).toSet == dataBytes.keySet)
    after.files.foreach(e =>
      assert(Files.size(dir.resolve(e.file)) == dataBytes(e.file)))
    assert(after.eqDeletes.nonEmpty)
    // the pre-delete version still reads complete
    assert(read(dir, Some(1)).count() == 20)
    // count() falls back to the eq-merging scan, not metadata
    assert(read(dir).count() == 15)
  }

  test("sequence scoping: later appends with the same keys survive; upsert is one commit") {
    val dir = freshDir()
    write(dir, spark.range(0, 10).selectExpr("id", "id AS v"),
      "overwrite")                                                   // v1
    LedgerMaintenance.deleteByKeys(spark, dir.toString, Seq("id"),
      spark.range(0, 3).selectExpr("id")): Unit                      // v2
    // re-append two of the deleted keys AFTER the delete: they live
    write(dir, spark.range(0, 2).selectExpr("id", "id + 100 AS v"),
      "append")                                                      // v3
    assert(read(dir).selectExpr("id", "v").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet ==
      ((3L until 10L).map(i => (i, i)) ++ Seq((0L, 100L), (1L, 101L))).toSet)
    // upsert: one commit replaces keys 5..7 and inserts 50
    val vBefore = LedgerSink.currentVersion(dir)
    val (nk, nr) = LedgerMaintenance.upsertByKeys(spark, dir.toString,
      Seq("id"),
      spark.range(5, 8).union(spark.range(50, 51))
        .selectExpr("id", "id + 1000 AS v"))
    assert(nk == 4 && nr == 4)
    assert(LedgerSink.currentVersion(dir) == vBefore + 1,
      "upsert must land as exactly ONE commit")
    val got = read(dir).collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got(5L) == 1005L && got(6L) == 1006L && got(7L) == 1007L)
    assert(got(50L) == 1050L)
    assert(got(0L) == 100L && got(3L) == 3L)
    // 9 live before the upsert, −3 replaced-in-place, +4 appended
    assert(read(dir).count() == 10)
  }

  test("upsertByKeys enforces NOT NULL like an append") {
    val dir = freshDir()
    write(dir, spark.range(0, 10).selectExpr("id", "id AS v"), "overwrite")
    assert(!LedgerSink.readManifest(dir).get.schema("v").nullable)
    val before = read(dir).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val v = LedgerSink.currentVersion(dir)
    val ex = intercept[Exception](
      LedgerMaintenance.upsertByKeys(spark, dir.toString, Seq("id"),
        spark.range(5, 6).selectExpr("id", "CAST(NULL AS BIGINT) AS v")))
    assert(Iterator.iterate(ex: Throwable)(_.getCause).takeWhile(_ != null)
      .exists(e => String.valueOf(e.getMessage).contains("NOT NULL violation")),
      s"expected a NOT NULL violation, got $ex")
    assert(LedgerSink.currentVersion(dir) == v)
    assert(read(dir).collect().map(r => (r.getLong(0), r.getLong(1))).toSet ==
      before)
    // the failed task removed what it staged
    val committed = LedgerSink.readManifest(dir).get.files.map(_.file).toSet
    val staged = Files.list(dir.resolve("_staging")).toArray.toSeq
      .map(p => s"_staging/${p.asInstanceOf[java.nio.file.Path].getFileName}")
    assert(staged.toSet == committed, s"leftover staged files: $staged")
  }

  test("OPTIMIZE materializes equality deletes and GCs them; answers unchanged") {
    val dir = freshDir()
    write(dir, spark.range(0, 30).selectExpr("id", "id AS v").repartition(3),
      "overwrite")
    LedgerMaintenance.deleteByKeys(spark, dir.toString, Seq("id"),
      spark.range(0, 30).filter("id % 3 = 0").selectExpr("id")): Unit
    val before = read(dir).collect().map(_.getLong(0)).sorted.toSeq
    LedgerMaintenance.optimize(spark, dir.toString): Unit
    val m = LedgerSink.readManifest(dir).get
    assert(m.eqDeletes.isEmpty, "materialized deletes must be GC'd")
    assert(m.files.forall(_.seq.nonEmpty))
    assert(read(dir).collect().map(_.getLong(0)).sorted.toSeq == before)
    // physical rows now match live rows (the deletes are applied)
    assert(m.files.map(_.rows).sum == 20)
    // metadata aggregate pushdown is legal again after materialization
    assert(read(dir).count() == 20)
  }

  test("a lone clean file with an applicable equality delete qualifies for OPTIMIZE") {
    val dir = freshDir()
    write(dir, spark.range(0, 10).selectExpr("id", "id AS v").coalesce(1),
      "overwrite")
    LedgerMaintenance.deleteByKeys(spark, dir.toString, Seq("id"),
      spark.range(0, 2).selectExpr("id")): Unit
    LedgerMaintenance.optimize(spark, dir.toString): Unit
    val m = LedgerSink.readManifest(dir).get
    assert(m.eqDeletes.isEmpty && m.files.map(_.rows).sum == 8)
  }

  test("append-only CDC refuses equality-delete commits; the row-level feed expresses them") {
    val dir = freshDir()
    write(dir, spark.range(0, 10).selectExpr("id", "id AS v"), "overwrite")
    LedgerMaintenance.deleteByKeys(spark, dir.toString, Seq("id"),
      spark.range(0, 2).selectExpr("id")): Unit                      // v2
    write(dir, spark.range(20, 23).selectExpr("id", "id AS v"), "append") // v3
    val e1 = intercept[UnsupportedOperationException](
      spark.read.format(ledger).option("path", dir.toString)
        .option("changesFromVersion", "1").load().count())
    assert(e1.getMessage.contains("equality-delete"))
    // the ROW-LEVEL feed diffs the logical state: the delete commit
    // emits exactly the two killed rows, the append its three inserts
    val feed = spark.read.format(ledger).option("path", dir.toString)
      .option("readChangeFeed", "true")
      .option("changesFromVersion", "1").load()
      .select("id", "_change_type", "_commit_version").collect()
    val byType = feed.groupBy(_.getString(1))
      .map { case (t, rs) => t -> rs.map(_.getLong(0)).sorted.toSeq }
    assert(byType("delete") == Seq(0L, 1L))
    assert(byType("insert") == Seq(20L, 21L, 22L))
    assert(feed.filter(_.getString(1) == "delete")
      .forall(_.getInt(2) == 2), "deletes belong to the install commit")
    // pre(v1) ∪ inserts ∖ deletes == live
    assert(read(dir).count() == 10 - 2 + 3)
    // a from-version at the delete commit reads the pure append fine
    assert(spark.read.format(ledger).option("path", dir.toString)
      .option("changesFromVersion", "2").load().count() == 3)
    // an UPSERT commit feeds as its deletes + inserts in one step
    LedgerMaintenance.upsertByKeys(spark, dir.toString, Seq("id"),
      spark.range(5, 7).selectExpr("id", "id + 800 AS v")): Unit     // v4
    val up = spark.read.format(ledger).option("path", dir.toString)
      .option("readChangeFeed", "true")
      .option("changesFromVersion", "3").load()
      .select("id", "v", "_change_type").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(up == Set((5L, 5L, "delete"), (6L, 6L, "delete"),
      (5L, 805L, "insert"), (6L, 806L, "insert")))
  }

  test("the append stream's file bindings carry no equality deletes") {
    // the data stream binds each readChanges step through the shared
    // file binder: a step readChanges serves left the delete set
    // unchanged, and the files it appended outsequence every delete
    val dir = freshDir()
    write(dir, spark.range(0, 10).selectExpr("id", "id AS v"), "overwrite")
    LedgerMaintenance.deleteByKeys(spark, dir.toString, Seq("id"),
      spark.range(0, 3).selectExpr("id")): Unit                      // v2
    write(dir, spark.range(0, 5).selectExpr("id", "id + 100 AS v"),
      "append")                                                      // v3
    val step = LedgerSink.readChanges(dir, 2, 3)
    assert(step.eqDeletes.nonEmpty && step.files.nonEmpty)
    assert(step.files.forall(LedgerSink.eqdBindings(dir, step, _).isEmpty))
    // so the stream serves every re-appended key, the killed ones too
    val q = spark.readStream.format(ledger).option("path", dir.toString)
      .option("skipChangeCommits", "true").load()
      .writeStream.format("memory").queryName("eqd_append_stream")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val got = spark.table("eqd_append_stream").select("id", "v").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got.filter(_._2 >= 100).map(_._1).sorted == (0L until 5L))
    assert(got.size == 15)
  }

  test("guards: dropping an eq-keyed column refuses; rename keeps the delete applying") {
    val root = Files.createTempDirectory("graft_cat_eqd")
    spark.conf.set("spark.sql.catalog.eqd_cat", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.eqd_cat.root", root.toString)
    try {
      spark.sql("CREATE NAMESPACE IF NOT EXISTS eqd_cat.ns")
      spark.sql("CREATE TABLE eqd_cat.ns.t (id BIGINT, v BIGINT)")
      spark.sql("INSERT INTO eqd_cat.ns.t SELECT id, id FROM range(0, 10)")
      val dir = root.resolve("ns").resolve("t")
      LedgerMaintenance.deleteByKeys(spark, dir.toString, Seq("id"),
        spark.range(0, 4).selectExpr("id")): Unit
      val e = intercept[UnsupportedOperationException](
        spark.sql("ALTER TABLE eqd_cat.ns.t DROP COLUMN id"))
      assert(e.getMessage.contains("equality delete"))
      // rename is safe: the delete keys on the FIELD ID
      spark.sql("ALTER TABLE eqd_cat.ns.t RENAME COLUMN id TO ident")
      assert(spark.sql("SELECT count(*) FROM eqd_cat.ns.t")
        .collect()(0).getLong(0) == 6)
      // the inspection surface shows the active delete under the NEW
      // name, and data sequences on the files once tracking started
      val insp = spark.sql(
        "SELECT version, key_columns FROM eqd_cat.ns.t.eq_deletes").collect()
      assert(insp.nonEmpty && insp.forall(r =>
        r.getInt(0) == 3 && r.getString(1) == "ident"),
        s"one install commit, keyed on the renamed column: ${insp.toSeq}")
      assert(spark.sql(
        "SELECT max(n_eqdels) FROM eqd_cat.ns.t.history")
        .collect()(0).getInt(0) == insp.length)
      // a delete keyed on a column some file predates refuses
      spark.sql("ALTER TABLE eqd_cat.ns.t ADD COLUMN extra BIGINT")
      val e2 = intercept[IllegalArgumentException](
        LedgerMaintenance.deleteByKeys(spark, dir.toString, Seq("extra"),
          spark.range(0, 1).selectExpr("id AS extra")))
      assert(e2.getMessage.contains("predate"))
    } finally {
      spark.sql("DROP TABLE IF EXISTS eqd_cat.ns.t")
      spark.conf.unset("spark.sql.catalog.eqd_cat")
    }
  }

  test("a rewrite racing an equality-delete install conflicts (no resurrection)") {
    val dir = freshDir()
    write(dir, spark.range(0, 10).selectExpr("id", "id AS v"), "overwrite")
    // hold the table's commit lock so updateMoR PLANS (lock-free) and
    // then blocks at its commit; install an equality delete underneath
    // via the raw manifest writer (test-only lock bypass); on release
    // the rebase must CONFLICT — committing would give the update
    // images a fresh sequence that escapes the delete
    @volatile var err: Throwable = null
    val t = new Thread(() =>
      try LedgerMaintenance.updateMoR(spark, dir.toString,
        Array(org.apache.spark.sql.sources.EqualTo("id", 5L)),
        Map("v" -> "v + 100")): Unit
      catch { case e: Throwable => err = e })
    LedgerSink.withCommitLock(dir) {
      t.start()
      val deadline = System.nanoTime + 60L * 1000 * 1000 * 1000
      while (t.getState != Thread.State.BLOCKED &&
        t.getState != Thread.State.TERMINATED && System.nanoTime < deadline)
        Thread.sleep(10)
      assert(t.getState == Thread.State.BLOCKED,
        s"updateMoR should be waiting on the commit lock, is ${t.getState}")
      val m = LedgerSink.readManifest(dir).get
      // forge the kill list for key 5 directly (one-line sidecar)
      Files.createDirectories(dir.resolve("_staging"))
      Files.write(dir.resolve("_staging/eqd-race.eqdel"),
        "5\n".getBytes(java.nio.charset.StandardCharsets.UTF_8))
      LedgerSink.writeManifestAtomic(dir, m.copy(eqDeletes =
        Seq(LedgerSink.EqDelete("_staging/eqd-race.eqdel", 0,
          Seq(m.idOf("id"))))))
    }
    t.join(60000)
    assert(err.isInstanceOf[java.util.ConcurrentModificationException],
      s"expected a conflict, got $err")
    assert(ids(dir) == ((0L until 10L).toSet - 5L),
      "the delete must win; the update must not have landed")
  }

  test("equality deletes refuse legacy (id-less) data files") {
    val dir = freshDir()
    Files.createDirectories(dir.resolve("_staging"))
    Files.write(dir.resolve("_staging/legacy-0.ledger"),
      "1,10\n2,20\n".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    // forge a legacy manifest: no ids column recorded for the file
    val m = LedgerSink.Manifest(
      org.apache.spark.sql.types.StructType.fromDDL("id BIGINT, v BIGINT"),
      Seq(1, 2), 3, Nil,
      Seq(LedgerSink.FileEntry("_staging/legacy-0.ledger", 2, None, None)))
    LedgerSink.writeManifestAtomic(dir, m)
    val e = intercept[IllegalArgumentException](
      LedgerMaintenance.deleteByKeys(spark, dir.toString, Seq("id"),
        spark.range(1, 2).selectExpr("id")))
    assert(e.getMessage.contains("legacy"))
  }

  test("an equality-delete step plans one partition per affected file") {
    val dir = freshDir()
    write(dir, spark.range(0, 10).selectExpr("id", "id AS v").coalesce(1),
      "overwrite")                                                   // v1: file A
    write(dir, spark.range(100, 110).selectExpr("id", "id AS v").coalesce(1),
      "append")                                                      // v2: file B
    LedgerMaintenance.upsertByKeys(spark, dir.toString, Seq("id"),
      spark.range(0, 2).selectExpr("id", "id + 900 AS v").coalesce(1)): Unit // v3
    val scan = new LedgerChangeFeedScan(dir, 2, 3)
    val parts = scan.planInputPartitions()
    // two surviving files self-diff + one appended file = 3 parallel
    // partitions, instead of one whole-table task
    assert(parts.length == 3, s"got ${parts.length} partitions")
    val feed = spark.read.format(ledger).option("path", dir.toString)
      .option("readChangeFeed", "true")
      .option("changesFromVersion", "2").load()
      .select("id", "_change_type").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(feed == Set((0L, "delete"), (1L, "delete"),
      (0L, "insert"), (1L, "insert")))
  }

  test("WAP: staged rows escape active equality deletes in audit and after publish") {
    val dir = freshDir()
    write(dir, spark.range(0, 10).selectExpr("id", "id AS v"), "overwrite") // v1
    LedgerMaintenance.deleteByKeys(spark, dir.toString, Seq("id"),
      spark.range(0, 6).selectExpr("id")): Unit                             // v2
    // stage an append that REVIVES keys 0..3 (plus nothing else)
    spark.range(0, 4).selectExpr("id", "id + 500 AS v")
      .write.format(ledger).option("path", dir.toString)
      .option("wapId", "w1").mode("append").save()
    val audit = spark.read.format(ledger).option("path", dir.toString)
      .option("wapId", "w1").load()
      .select("id").collect().map(_.getLong(0)).toSet
    assert(audit == Set(0L, 1L, 2L, 3L, 6L, 7L, 8L, 9L),
      s"audit must show staged rows escaping the active delete, got $audit")
    // a delete installed BETWEEN stage and publish kills base key 6
    // but must not touch the staged rows (published after it)
    LedgerMaintenance.deleteByKeys(spark, dir.toString, Seq("id"),
      spark.range(6, 7).selectExpr("id")): Unit                             // v3
    LedgerRefs.publishWap(dir, "w1"): Unit                                  // v4
    assert(ids(dir) == Set(0L, 1L, 2L, 3L, 7L, 8L, 9L))
  }

  test("vacuum protects live sidecars; DVs compose with equality deletes") {
    val dir = freshDir()
    write(dir, spark.range(0, 12).selectExpr("id", "id AS v"), "overwrite")
    LedgerMaintenance.deleteByKeys(spark, dir.toString, Seq("id"),
      spark.range(0, 6).selectExpr("id")): Unit
    assert(LedgerSink.vacuum(dir, olderThanMillis = 0L).isEmpty,
      "live sidecars must survive vacuum")
    assert(read(dir).count() == 6)
    // a MoR position-delete over an overlapping predicate counts only
    // rows the equality delete had NOT already killed
    val del = LedgerMaintenance.deleteMoR(spark, dir.toString, Array(
      org.apache.spark.sql.sources.LessThan("id", 8L)))
    assert(del == 2, s"ids 6,7 are the only LIVE rows below 8, got $del")
    assert(ids(dir) == (8L until 12L).toSet)
    // materialize everything, push history past the sidecar-referencing
    // versions (retention protects the newest historical version), then
    // vacuum reclaims the sidecars
    LedgerMaintenance.optimize(spark, dir.toString): Unit
    write(dir, spark.range(100, 101).selectExpr("id", "id AS v"), "append")
    LedgerRefs.expireVersions(dir, keepLast = 1): Unit
    val reclaimed = LedgerSink.vacuum(dir, olderThanMillis = 0L)
    assert(reclaimed.exists(_.contains("eqd-")),
      s"expired sidecars should be reclaimed, got $reclaimed")
    assert(ids(dir) == (8L until 12L).toSet ++ Set(100L))
  }

  test("upsert of a NON-DETERMINISTIC batch stays internally " +
      "consistent: every appended row is covered by its own delete") {
    val dir = freshDir()
    write(dir, spark.range(0, 200).selectExpr("id", "id AS v"), "overwrite")
    // rand() makes every re-evaluation of this plan a different row
    // set — if the staged appends and the key sidecars came from two
    // evaluations, some appended key would miss its delete and its
    // base row would SURVIVE as a duplicate (ADVICE r11: evaluate
    // once, derive the keys from the staged bytes)
    val batch = spark.range(0, 200)
      .filter(org.apache.spark.sql.functions.rand() < 0.5)
      .selectExpr("id", "id + 1000 AS v")
    LedgerMaintenance.upsertByKeys(spark, dir.toString, Seq("id"), batch): Unit
    val dup = read(dir).groupBy("id").count().filter("count > 1").count()
    assert(dup == 0, s"$dup key(s) duplicated after a rand() upsert")
    assert(read(dir).count() == 200)
    // and the updated rows really are the appended evaluation's rows
    val updated = read(dir).filter("v >= 1000").count()
    val unchanged = read(dir).filter("v < 1000 AND v = id").count()
    assert(updated + unchanged == 200)
  }
}
