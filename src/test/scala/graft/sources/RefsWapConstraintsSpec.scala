package graft.sources

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame

/** Tags / RESTORE / expiration ([[LedgerRefs]]), write-audit-publish,
  * and CHECK/NOT NULL constraints ([[LedgerConstraints]]) — the edges
  * below the three oracles' reach: guard rails (immutable tags,
  * keepLast >= 1, restore-after-vacuum failure), conflict behavior
  * (publish racing a schema change), and the null-passes CHECK rule
  * evaluated at the row level. */
class RefsWapConstraintsSpec extends graft.SparkSpec {

  private val ledger = classOf[LedgerSink].getName

  private def freshDir() = {
    val d = Files.createTempDirectory("ledger_refs_spec")
    Files.delete(d)
    d.toString
  }

  private def write(dir: String, df: DataFrame, mode: String): Unit =
    df.write.format(ledger).option("path", dir).mode(mode).save()

  private def read(dir: String): DataFrame =
    spark.read.format(ledger).option("path", dir).load()

  test("tags are immutable named versions; unknown tags fail loud") {
    val dir = freshDir()
    write(dir, spark.range(0, 10).selectExpr("id"), "overwrite")   // v1
    write(dir, spark.range(0, 20).selectExpr("id"), "overwrite")   // v2
    val root = Paths.get(dir)
    assert(LedgerRefs.createTag(root, "first", Some(1)) == 1)
    assert(LedgerRefs.createTag(root, "head") == 2, "default = current")
    assert(spark.read.format(ledger).option("path", dir)
      .option("tagAsOf", "first").load().count() == 10)
    intercept[IllegalStateException] {
      LedgerRefs.createTag(root, "first", Some(2)) // immutable
    }
    intercept[IllegalArgumentException] {
      LedgerRefs.resolveTag(root, "nope")
    }
    intercept[IllegalArgumentException] {
      LedgerRefs.createTag(root, "future", Some(99))
    }
    LedgerRefs.dropTag(root, "first")
    intercept[IllegalArgumentException] {
      spark.read.format(ledger).option("path", dir)
        .option("tagAsOf", "first").load()
    }
  }

  test("restore re-commits an old state; vacuumed target fails loud") {
    val dir = freshDir()
    val root = Paths.get(dir)
    write(dir, spark.range(0, 50).selectExpr("id"), "overwrite")   // v1
    write(dir, spark.range(0, 5).selectExpr("id"), "overwrite")    // v2
    assert(LedgerRefs.restore(root, 1) == 3)
    assert(read(dir).count() == 50, "restored to v1's row set")
    assert(spark.read.format(ledger).option("path", dir)
      .option("versionAsOf", "2").load().count() == 5,
      "history is not rewritten")
    // restore to the current state commits nothing
    val v = LedgerSink.currentVersion(root)
    assert(LedgerRefs.restore(root, v) == v)
    // expire v2 (keep newest archive v2? archives are {1,2}; keepLast=1
    // keeps {2}) then vacuum — v2's files die with its archive only if
    // nothing else references them; here v2's rows exist nowhere else
    val expired = LedgerRefs.expireVersions(root, keepLast = 1)
    assert(expired == Seq(1))
    // v1's files are still referenced (live manifest == v1 content via
    // the restore), so vacuum must NOT break the restored table
    LedgerSink.vacuum(root, olderThanMillis = 0L)
    assert(read(dir).count() == 50)
    intercept[IllegalArgumentException] {
      LedgerRefs.expireVersions(root, 0)
    }
  }

  test("restore refuses a target whose files were reclaimed") {
    val dir = freshDir()
    val root = Paths.get(dir)
    write(dir, spark.range(0, 30).selectExpr("id"), "overwrite")   // v1
    write(dir, spark.range(100, 105).selectExpr("id"), "overwrite") // v2
    write(dir, spark.range(200, 210).selectExpr("id"), "overwrite") // v3
    LedgerRefs.expireVersions(root, keepLast = 1): Unit  // v1 gone
    LedgerSink.vacuum(root, olderThanMillis = 0L): Unit  // v1's files gone
    // v2 is still an archive: its files survived (archive referenced)
    assert(LedgerRefs.restore(root, 2) == 4)
    assert(read(dir).count() == 5)
    // but an expired version cannot even be named
    intercept[IllegalArgumentException] { LedgerRefs.restore(root, 1) }
    // and a target with a MISSING data file (simulated corruption /
    // out-of-band cleanup) is refused before the swap, not at read time
    val v3files = LedgerSink.readManifestAt(root, Some(3)).get.files
    Files.delete(root.resolve(v3files.head.file))
    val ex = intercept[IllegalStateException] { LedgerRefs.restore(root, 3) }
    assert(ex.getMessage.contains("vacuumed"))
  }

  test("wap: stage is invisible, publish composes with a concurrent append") {
    val dir = freshDir()
    val root = Paths.get(dir)
    write(dir, spark.range(0, 100).selectExpr("id"), "overwrite")  // v1
    spark.range(100, 150).selectExpr("id").write.format(ledger)
      .option("path", dir).option("wapId", "w").mode("append").save()
    assert(read(dir).count() == 100, "stage must not touch the live table")
    assert(spark.read.format(ledger).option("path", dir)
      .option("wapId", "w").load().count() == 150, "audit = base + staged")
    // an append lands BETWEEN stage and publish: publish must compose
    write(dir, spark.range(1000, 1010).selectExpr("id"), "append") // v2
    LedgerRefs.publishWap(root, "w"): Unit                         // v3
    assert(read(dir).count() == 160,
      "published table = base + concurrent append + staged files")
    intercept[IllegalArgumentException] { LedgerRefs.publishWap(root, "w") }
  }

  test("wap: duplicate id refused; schema-change race aborts publish; abort cleans") {
    val dir = freshDir()
    val root = Paths.get(dir)
    write(dir, spark.range(0, 10).selectExpr("id"), "overwrite")   // v1
    spark.range(10, 20).selectExpr("id").write.format(ledger)
      .option("path", dir).option("wapId", "w").mode("append").save()
    // duplicate stage id: refused, staged files of the duplicate
    // attempt cleaned up
    val e = intercept[Exception] {
      spark.range(20, 30).selectExpr("id").write.format(ledger)
        .option("path", dir).option("wapId", "w").mode("append").save()
    }
    assert(e.toString.contains("already staged") ||
      Option(e.getCause).exists(_.toString.contains("already staged")))
    // a schema-changing overwrite lands before publish: the staged
    // files' id binding is stale — publish must abort, stage intact
    write(dir, spark.range(0, 5)
      .selectExpr("id", "id * 2 AS extra"), "overwrite")           // v2
    intercept[java.util.ConcurrentModificationException] {
      LedgerRefs.publishWap(root, "w")
    }
    assert(LedgerSink.listWaps(root) == Seq("w"), "stage survives the abort")
    // explicit abort removes the staged manifest and its files
    val staged = LedgerSink.readWap(root, "w")
      .props(LedgerSink.WapNewFilesProp).split(",").toSeq.filter(_.nonEmpty)
    assert(staged.nonEmpty)
    LedgerRefs.abortWap(root, "w")
    assert(LedgerSink.listWaps(root).isEmpty)
    assert(staged.forall(f => !Files.exists(root.resolve(f))))
  }

  test("wap: a constraint added since the stage refuses the publish") {
    val dir = freshDir()
    val root = Paths.get(dir)
    write(dir, spark.range(0, 10).selectExpr("id", "id AS v"), "overwrite") // v1
    spark.range(100, 101).selectExpr("id", "id - 101 AS v").write
      .format(ledger).option("path", dir).option("wapId", "w")
      .mode("append").save()
    // staged rows are not live data, so the add's validation scan passes
    LedgerConstraints.addCheck(spark, dir, "nonneg", "v >= 0")             // v2
    val v = LedgerSink.currentVersion(root)
    intercept[java.util.ConcurrentModificationException] {
      LedgerRefs.publishWap(root, "w")
    }
    assert(LedgerSink.currentVersion(root) == v)
    assert(read(dir).count() == 10 && read(dir).filter("v < 0").count() == 0,
      "the staged row violating the new constraint must not go live")
    assert(LedgerSink.listWaps(root) == Seq("w"), "stage survives the refusal")
  }

  test("check constraints: add validates, writes enforce, null passes") {
    val dir = freshDir()
    val root = Paths.get(dir)
    // CASE without ELSE keeps v NULLABLE — this test is about CHECK
    // semantics, not NOT NULL (which the next test covers)
    write(dir, spark.range(0, 100)
      .selectExpr("id",
        "CAST(CASE WHEN id >= 0 THEN id * 10 END AS BIGINT) AS v"),
      "overwrite")
    LedgerConstraints.addCheck(spark, dir, "v_bound", "v >= 0 AND v < 10000")
    // violated-by-existing-data constraint is refused
    intercept[IllegalStateException] {
      LedgerConstraints.addCheck(spark, dir, "v_tight", "v < 500")
    }
    assert(LedgerConstraints.constraintsOf(
      LedgerSink.readManifest(root).get.props).map(_._1) == Seq("v_bound"))
    // conforming append lands
    write(dir, spark.range(100, 110)
      .selectExpr("id", "CAST(0 AS BIGINT) AS v"), "append")
    assert(read(dir).count() == 110)
    // violating append fails the JOB and commits nothing
    val before = read(dir).count()
    val ex = intercept[Exception] {
      write(dir, spark.range(0, 5)
        .selectExpr("id", "CAST(-1 AS BIGINT) AS v"), "append")
    }
    assert(chain(ex).exists(_.contains("CHECK constraint 'v_bound'")))
    assert(read(dir).count() == before, "failed write must be atomic")
    // NULL passes CHECK (SQL semantics)
    write(dir, spark.range(200, 203)
      .selectExpr("id", "CAST(NULL AS BIGINT) AS v"), "append")
    assert(read(dir).count() == before + 3)
    // dropCheck re-opens the range
    LedgerConstraints.dropCheck(dir, "v_bound")
    write(dir, spark.range(0, 2)
      .selectExpr("id", "CAST(-1 AS BIGINT) AS v"), "append")
    assert(read(dir).count() == before + 5)
  }

  test("not null: table nullability is enforced against appends") {
    import org.apache.spark.sql.functions._
    val dir = freshDir()
    // coalesce(col, lit) pins nullable=false in the write schema
    write(dir, spark.range(0, 20)
      .select(col("id"), coalesce(col("id"), lit(0L)).as("k")), "overwrite")
    assert(!LedgerSink.readManifest(Paths.get(dir)).get
      .schema("k").nullable)
    val ex = intercept[Exception] {
      write(dir, spark.range(0, 3)
        .selectExpr("id", "CAST(NULL AS BIGINT) AS k"), "append")
    }
    assert(chain(ex).exists(_.contains("NOT NULL violation")))
    assert(read(dir).count() == 20)
  }

  test("evolution refuses to orphan a constraint; streaming writes enforce") {
    val dir = freshDir()
    write(dir, spark.range(0, 10)
      .selectExpr("id", "CAST(1 AS BIGINT) AS v"), "overwrite")
    LedgerConstraints.addCheck(spark, dir, "v_pos", "v > 0")
    // rename/drop of the referenced column must be refused via the
    // catalog's applyChanges path — simulated here at the props level
    assert(LedgerConstraints.referencesColumn("v > 0", "v"))
    assert(!LedgerConstraints.referencesColumn("value > 0", "v"))
    assert(!LedgerConstraints.referencesColumn("v2 > 0", "v"))
    assert(LedgerConstraints.referencesColumn("abs(v) > 0", "v"))
  }

  test("review-caught races: constraint vs write, wap typo, option conflicts, publish idempotence") {
    val dir = freshDir()
    val root = Paths.get(dir)
    write(dir, spark.range(0, 20)
      .selectExpr("id",
        "CAST(CASE WHEN id >= 0 THEN id END AS BIGINT) AS v"), "overwrite")
    // 1. a write planned BEFORE addCheck lands must conflict — its
    // rows were never validated under the new rule
    val schema =
      org.apache.spark.sql.types.StructType.fromDDL("id BIGINT, v BIGINT")
    val stale = new LedgerBatchWrite(root, schema, truncate = false,
      Seq.empty, Seq.empty)
    val factory = stale.createBatchWriterFactory(null)
    LedgerConstraints.addCheck(spark, dir, "v_cap", "v < 1000")
    val w = factory.createWriter(0, 31L)
    w.write(new org.apache.spark.sql.catalyst.expressions
      .GenericInternalRow(Array[Any](999L, 5000L))) // violates v_cap
    val msg = w.commit()
    intercept[java.util.ConcurrentModificationException] {
      stale.commit(Array(msg))
    }
    assert(read(dir).count() == 20, "unvalidated rows must not land")
    // 2. addCheck racing a data commit its scan never saw: stale
    // writer planned first, commits first, then addCheck — the add
    // re-validates via its file-set pin and aborts
    val stale2 = new LedgerBatchWrite(root, schema, truncate = false,
      Seq.empty, Seq.empty)
    val f2 = stale2.createBatchWriterFactory(null)
    val mPin = LedgerSink.readManifest(root).get
    val w2 = f2.createWriter(0, 32L)
    w2.write(new org.apache.spark.sql.catalyst.expressions
      .GenericInternalRow(Array[Any](998L, -50L)))
    val msg2 = w2.commit()
    // validation scan equivalent happened against mPin; land the data
    stale2.commit(Array(msg2))
    intercept[java.util.ConcurrentModificationException] {
      // replicate addCheck's commit against the pinned (stale) state
      LedgerSink.commitRebase(root, {
        case Some(cur) =>
          if (cur.files.map(e => (e.file, e.dv)).toSet ==
            mPin.files.map(e => (e.file, e.dv)).toSet)
            Some(cur.copy(props = cur.props +
              ("graft.constraint.v_pos2" -> "v >= 0")))
          else None
        case None => None
      }, "addCheck raced a data commit")
    }
    // 3. a typo'd wapId read fails loud instead of auditing live data
    // (the resolution happens at scan planning — force an action)
    intercept[IllegalArgumentException] {
      spark.read.format(ledger).option("path", dir)
        .option("wapId", "no-such-stage").load().count()
    }
    // 4. conflicting state options fail loud
    intercept[IllegalArgumentException] {
      spark.read.format(ledger).option("path", dir)
        .option("versionAsOf", "1").option("tagAsOf", "x").load()
    }
    // 5. publish is idempotent across a crash that lost the stage
    // delete: re-publishing a surviving stage must not double-fold
    spark.range(500, 510).selectExpr("id",
      "CAST(id AS BIGINT) AS v").write.format(ledger)
      .option("path", dir).option("wapId", "pw").mode("append").save()
    val stageBytes = Files.readAllBytes(
      root.resolve(LedgerSink.wapName("pw")))
    val n0 = read(dir).count()
    LedgerRefs.publishWap(root, "pw"): Unit
    assert(read(dir).count() == n0 + 10)
    Files.write(root.resolve(LedgerSink.wapName("pw")), stageBytes): Unit
    LedgerRefs.publishWap(root, "pw"): Unit // crash-retry replay
    assert(read(dir).count() == n0 + 10, "replayed publish must not double-fold")
    assert(LedgerSink.listWaps(root).isEmpty)
  }

  private def chain(e: Throwable): Seq[String] = {
    val b = Seq.newBuilder[String]
    var cur: Throwable = e
    var n = 0
    while (cur != null && n < 20) {
      if (cur.getMessage != null) b += cur.getMessage
      cur = cur.getCause; n += 1
    }
    b.result()
  }
}
