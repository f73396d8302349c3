package graft.sources

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.sources.{EqualTo, Filter}

/** Partition-spec evolution ([[LedgerMaintenance.alterPartitionSpec]])
  * below the `dsv2_spec_evolution` oracle's reach: stamping and header
  * round-trips, per-file pruning under same vs changed transforms,
  * cross-spec metadata deletes, the append-vs-spec-change conflict,
  * and byte-compatibility of never-evolved manifests. */
class SpecEvolutionSpec extends graft.SparkSpec {

  private val ledger = classOf[LedgerSink].getName

  private def freshDir() = {
    val d = Files.createTempDirectory("ledger_spev_spec")
    Files.delete(d)
    d
  }

  private def write(dir: java.nio.file.Path, df: DataFrame, mode: String,
      partitionBy: Seq[String] = Seq.empty): Unit = {
    val w = df.write.format(ledger).option("path", dir.toString).mode(mode)
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w).save()
  }

  private def planned(dir: java.nio.file.Path, fs: Array[Filter]): Int = {
    val m = LedgerSink.readManifest(dir).get
    val sb = new LedgerScanBuilder(dir, m.schema)
    sb.pushFilters(fs): Unit
    sb.build().toBatch.planInputPartitions().length
  }

  test("never-evolved manifests carry no evolution headers or stamps") {
    val dir = freshDir()
    write(dir, spark.range(0, 10).selectExpr("id"), "overwrite")
    val text = new String(
      Files.readAllBytes(dir.resolve("_MANIFEST")), UTF_8)
    assert(!text.contains("#specid") && !text.contains("#oldspecs"))
  }

  test("alter stamps existing entries, archives the old spec, and round-trips") {
    val dir = freshDir()
    write(dir, spark.range(0, 40)
      .selectExpr("id", "id % 4 AS g").repartition(3), "overwrite")
    assert(LedgerMaintenance.alterPartitionSpec(dir.toString,
      Seq(("g", "identity", 0))) == 1)
    val m = LedgerSink.readManifest(dir).get
    assert(m.specId == 1 && m.oldSpecs == Map(0 -> Seq.empty))
    assert(m.files.forall(_.spec.contains(0)), "pre-evolution entries stamped")
    // round-trip through render/parse preserves everything
    assert(LedgerSink.Manifest.parse(m.render) == m)
    // re-declaring the current spec is a no-op: same id, no version bump
    val v = LedgerSink.currentVersion(dir)
    assert(LedgerMaintenance.alterPartitionSpec(dir.toString,
      Seq(("g", "identity", 0))) == 1)
    assert(LedgerSink.currentVersion(dir) == v)
    // appends now carry new-spec tuples, unstamped (= current)
    write(dir, spark.range(100, 120)
      .selectExpr("id", "id % 4 AS g"), "append")
    val m2 = LedgerSink.readManifest(dir).get
    val fresh = m2.files.filterNot(_.spec.contains(0))
    assert(fresh.nonEmpty && fresh.forall(e =>
      e.spec.isEmpty && e.partVals.exists(_.length == 1)))
  }

  test("same-transform fields keep pruning across specs; changed ones keep files") {
    val dir = freshDir()
    // probe columns k/g are NOT the stats column (first integral = id),
    // so the planned counts below isolate PARTITION pruning
    def rows(lo: Long, hi: Long) = spark.range(lo, hi)
      .selectExpr("id", "id % 13 AS k", "id % 7 AS g")
    write(dir, rows(0, 400), "overwrite")
    LedgerMaintenance.alterPartitionSpec(dir.toString,
      Seq(("k", "bucket", 4))): Unit
    write(dir, rows(400, 800), "append")
    val m1 = LedgerSink.readManifest(dir).get
    assert(m1.files.count(e => m1.specOf(e) == m1.specId) >= 4,
      "bucket(4) append should write at least one file per bucket")
    // era 2: widen the SAME bucket transform with an identity field —
    // era-1 files share bucket(4, k) with the current spec, so a
    // bucketed probe still prunes BOTH eras
    LedgerMaintenance.alterPartitionSpec(dir.toString,
      Seq(("k", "bucket", 4), ("g", "identity", 0))): Unit
    write(dir, rows(800, 1200), "append")
    val m2 = LedgerSink.readManifest(dir).get
    val unpart = m2.files.count(e => m2.specOf(e) == 0) // pre-evolution era
    val m2era1 = m2.files.filter(e => m2.specOf(e) == 1)
    val m2era2 = m2.files.filter(e => m2.specOf(e) == 2)
    // k = 5 → bucket 1: era-0 files all kept (no tuples), era-1 and
    // era-2 files prune to bucket 1 only
    val b1era1 = m2era1.count(_.partVals.exists(_.head == "1"))
    val b1era2 = m2era2.count(_.partVals.exists(_.head == "1"))
    assert(planned(dir, Array(EqualTo("k", 5L))) ==
      unpart + b1era1 + b1era2)
    // g = 3 prunes only era-2 files (the only spec carrying g);
    // era 0/1 files are conservatively kept
    val g3era2 = m2era2.count(_.partVals.exists(_.last == "3"))
    assert(planned(dir, Array(EqualTo("g", 3L))) ==
      unpart + m2era1.length + g3era2)
    // changed transform param: evolve to bucket(8, k) — old bucket(4)
    // tuples say nothing about a bucket(8) probe
    LedgerMaintenance.alterPartitionSpec(dir.toString,
      Seq(("k", "bucket", 8))): Unit
    write(dir, rows(1200, 1600), "append")
    val m3 = LedgerSink.readManifest(dir).get
    val era3 = m3.files.filter(e => m3.specOf(e) == m3.specId)
    val b5era3 = era3.count(_.partVals.exists(_.head == "5")) // 5 % 8
    assert(planned(dir, Array(EqualTo("k", 5L))) ==
      (m3.files.length - era3.length) + b5era3,
      "bucket(4)-era files must be kept, bucket(8) files pruned")
    // the full scan still reads every era exactly once
    assert(spark.read.format(ledger).option("path", dir.toString)
      .load().count() == 1600)
  }

  test("metadata delete proves against each file's own spec") {
    val dir = freshDir()
    write(dir, spark.range(0, 100).selectExpr("id", "id % 5 AS g"),
      "overwrite", partitionBy = Seq("g"))
    // evolution ADDS a field; g stays identity in both specs, so a
    // g-equality delete stays whole-file-provable across eras
    LedgerMaintenance.alterPartitionSpec(dir.toString,
      Seq(("g", "identity", 0), ("id", "bucket", 4))): Unit
    write(dir, spark.range(100, 200).selectExpr("id", "id % 5 AS g"),
      "append")
    val m = LedgerSink.readManifest(dir).get
    val t = new LedgerTable(dir, m.schema)
    assert(t.canDeleteWhere(Array[Filter](EqualTo("g", 3L))))
    t.deleteWhere(Array[Filter](EqualTo("g", 3L)))
    val left = spark.read.format(ledger).option("path", dir.toString).load()
    assert(left.count() == 160)
    assert(left.where("g = 3").count() == 0)
    // but an id-equality is NOT whole-file-provable (id is bucketed,
    // not identity, and its stats straddle any single value here)
    assert(!new LedgerTable(dir,
      LedgerSink.readManifest(dir).get.schema)
      .canDeleteWhere(Array[Filter](EqualTo("id", 7L))))
  }

  test("an append racing a spec change aborts instead of mis-stamping") {
    val dir = freshDir()
    write(dir, spark.range(0, 10).selectExpr("id", "id % 3 AS g"),
      "overwrite")
    val schema =
      org.apache.spark.sql.types.StructType.fromDDL("id BIGINT, g BIGINT")
    // stale writer: bound to the unpartitioned spec
    val stale = new LedgerBatchWrite(dir, schema, truncate = false,
      Seq.empty, Seq.empty)
    val factory = stale.createBatchWriterFactory(null)
    LedgerMaintenance.alterPartitionSpec(dir.toString,
      Seq(("g", "identity", 0))): Unit
    val w = factory.createWriter(0, 99L)
    w.write(new org.apache.spark.sql.catalyst.expressions
      .GenericInternalRow(Array[Any](7000L, 1L)))
    val msg = w.commit()
    intercept[java.util.ConcurrentModificationException] {
      stale.commit(Array(msg))
    }
    assert(spark.read.format(ledger).option("path", dir.toString)
      .load().count() == 10, "the mis-bound append must not land")
  }

  test("a stream epoch after a spec change aborts instead of mis-stamping") {
    val dir = freshDir()
    write(dir, spark.range(0, 10).selectExpr("id", "id % 3 AS g"),
      "overwrite", partitionBy = Seq("g"))
    val schema =
      org.apache.spark.sql.types.StructType.fromDDL("id BIGINT, g BIGINT")
    val sw = new LedgerStreamingWrite(dir, schema,
      Seq(LedgerSink.NamedPartField("g", "identity", 0)))
    def epoch(e: Long, id: Long) = {
      // the writer factory is re-created every micro-batch
      val w = sw.createStreamingWriterFactory(null).createWriter(0, e, e)
      w.write(new org.apache.spark.sql.catalyst.expressions
        .GenericInternalRow(Array[Any](id, id % 3)))
      Array(w.commit())
    }
    sw.commit(1L, epoch(1L, 100L))
    LedgerMaintenance.alterPartitionSpec(dir.toString,
      Seq(("g", "bucket", 4))): Unit
    val v = LedgerSink.currentVersion(dir)
    intercept[java.util.ConcurrentModificationException] {
      sw.commit(2L, epoch(2L, 200L))
    }
    assert(LedgerSink.currentVersion(dir) == v)
    assert(spark.read.format(ledger).option("path", dir.toString)
      .load().select("id").collect().map(_.getLong(0)).sorted.toSeq ==
      ((0L until 10L) :+ 100L), "the mis-stamped epoch must not land")
  }

  test("optimize compacts within specs, never across them") {
    val dir = freshDir()
    write(dir, spark.range(0, 50).selectExpr("id").repartition(4),
      "overwrite")
    LedgerMaintenance.alterPartitionSpec(dir.toString, Seq.empty): Unit
    // same FIELDS (empty) — a no-op; now a real change:
    LedgerMaintenance.alterPartitionSpec(dir.toString,
      Seq(("id", "bucket", 2))): Unit
    write(dir, spark.range(50, 100).selectExpr("id"), "append")
    write(dir, spark.range(100, 150).selectExpr("id"), "append")
    val before = LedgerSink.readManifest(dir).get
    LedgerMaintenance.optimize(spark, dir.toString): Unit
    val after = LedgerSink.readManifest(dir).get
    assert(after.files.length < before.files.length)
    // every rewritten entry still resolves to a spec whose arity
    // matches its tuple
    assert(after.files.forall(e =>
      after.specFields(after.specOf(e)).length ==
        e.partVals.map(_.length).getOrElse(0)))
    assert(spark.read.format(ledger).option("path", dir.toString)
      .load().count() == 150)
  }
}
