package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Oracle gate for the sink: the customer dimension pushed through the
  * full write protocol (stage → message → manifest commit) and read
  * back through the manifest — compared against DuckDB scanning the
  * original parquet directly, which only passes if every codec branch
  * (long, int, DOUBLE-as-hex, string) is bit-exact. */
object LedgerRoundtrip {
  import LedgerGate._

  def sinkRoundtrip(spark: SparkSession, sfDir: String): DataFrame = {
    val t = scratch(spark, "rt", sfDir)
    t.write(graft.io.Tables.customer(spark, sfDir)
      .select("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"),
      "overwrite")
    t.read().orderBy("c_custkey")
  }

  /** Snapshot-labelled digest: row count and balance cents. */
  private def snapshotDigest(df: DataFrame, snapshot: String): DataFrame =
    df.agg(count(lit(1)).as("n_rows"),
        sum(expr("CAST(round(c_acctbal * 100) AS BIGINT)")).as("bal_cents"))
      .selectExpr(s"'$snapshot' AS snapshot", "n_rows", "bal_cents")

  val sinkRoundtripOracle: String =
    """SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
       FROM customer ORDER BY c_custkey"""

  /** `dsv2_stream_sink_roundtrip`: the connector's fourth quadrant —
    * micro-batch STREAM into the transactional ledger sink. The
    * synthetic source drains 100k rows under a 25k-row admission cap
    * (Trigger.AvailableNow ⇒ ≥ 4 epochs, each its own
    * stage→message→epoch-commit cycle through
    * [[LedgerStreamingWrite]]), then the table reads back through the
    * manifest and aggregates. The oracle regenerates the whole ledger
    * arithmetically in DuckDB, so the hash match pins exactly-once
    * delivery ACROSS epochs: a lost or doubled batch changes every
    * count and sum. Fresh table + checkpoint per run — replay
    * idempotence is the sink spec's job, not this gate's. */
  def streamSinkRoundtrip(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    val t = scratch(spark, "stream", sfDir)
    val stream = spark.readStream.format(classOf[SyntheticSource].getName)
      .option("rows", "100000").option("slices", "16")
      .option("maxRowsPerBatch", "25000").load()
    val q = stream.writeStream.format(ledger)
      .option("path", t.dir).option("checkpointLocation", s"${t.dir}/_checkpoint")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    t.read()
      .groupBy(col("category"))
      .agg(count(lit(1)).as("n"),
        sum(col("value")).as("sum_value"),
        sum(col("cents")).as("sum_cents"),
        min(col("id")).as("min_id"), max(col("id")).as("max_id"))
      .orderBy("category")
  }

  val streamSinkRoundtripOracle: String =
    """SELECT 'c' || CAST(v % 23 AS VARCHAR) AS category,
         count(*) AS n,
         CAST(sum(v) AS BIGINT) AS sum_value,
         CAST(sum(v % 9973) AS BIGINT) AS sum_cents,
         min(id) AS min_id,
         max(id) AS max_id
       FROM (SELECT id, (id * 1103515245 + 12345) % 2147483648 AS v
             FROM range(0, 100000) t(id))
       GROUP BY 1 ORDER BY 1"""

  /** `dsv2_time_travel`: manifest-versioned TIME TRAVEL — every commit
    * archives the manifest it replaces, so `versionAsOf` reads any
    * historical table state through its own immutable manifest (the
    * lakehouse snapshot story at this format's scale: an overwrite
    * orphans data files rather than deleting them; vacuum reclaims
    * what no version references). The gate overwrites the customer
    * table with a filtered subset, then reads BOTH the pre-overwrite
    * version and the live table; DuckDB recomputes both digests from
    * the fixture, so the hash match pins that history is the history
    * — an overwrite that leaked into v1, or a version chain that
    * skipped, changes a digest. */
  def timeTravelRoundtrip(spark: SparkSession, sfDir: String): DataFrame = {
    val t = scratch(spark, "rt", sfDir, "_tt")
    val cust = graft.io.Tables.customer(spark, sfDir)
      .select("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
    t.write(cust, "overwrite")                               // version 1
    t.write(cust.filter(col("c_nationkey") < 13), "overwrite") // version 2 (live)
    snapshotDigest(t.read("versionAsOf" -> "1"), "v1")
      .unionByName(snapshotDigest(t.read(), "live"))
      .orderBy("snapshot")
  }

  /** `dsv2_merge_upsert`: SQL MERGE INTO through the catalog plugin —
    * the group-based copy-on-write path end to end (matched UPDATE
    * arm + not-matched INSERT arm, `__row_operation` slicing in the
    * COW writer, scanned-group swap at commit). The oracle replays
    * the upsert relationally in DuckDB; the read-back includes a
    * non-aligned DELETE first, so the metadata-delete vs COW
    * arbitration is inside the gate too. */
  def mergeUpsertRoundtrip(spark: SparkSession, sfDir: String): DataFrame = {
    val tag = LedgerGate.tag(sfDir)
    val t = catalogTable(spark, "rlo", "upsert", sfDir,
      "(c_custkey BIGINT, bal_c BIGINT)").name
    graft.io.Tables.customer(spark, sfDir)
      .selectExpr("CAST(c_custkey AS BIGINT) AS c_custkey",
        "CAST(round(c_acctbal * 100) AS BIGINT) AS bal_c")
      .createOrReplaceTempView(s"mu_base_$tag")
    spark.sql(s"INSERT INTO $t SELECT c_custkey, bal_c FROM mu_base_$tag")
    // a non-aligned COW delete first: drop every third customer
    spark.sql(s"DELETE FROM $t WHERE c_custkey % 3 = 0")
    // upsert: bump balances of keys % 7 = 0, insert shadow keys
    spark.sql(
      s"""SELECT c_custkey AS id, bal_c + 100000 AS bal_c
          FROM mu_base_$tag WHERE c_custkey % 7 = 0
          UNION ALL
          SELECT c_custkey + 10000000, CAST(555 AS BIGINT)
          FROM mu_base_$tag WHERE c_custkey % 11 = 0""")
      .createOrReplaceTempView(s"mu_src_$tag")
    spark.sql(
      s"""MERGE INTO $t AS tgt USING mu_src_$tag AS src
          ON tgt.c_custkey = src.id
          WHEN MATCHED THEN UPDATE SET bal_c = src.bal_c
          WHEN NOT MATCHED THEN INSERT (c_custkey, bal_c)
            VALUES (src.id, src.bal_c)""")
    spark.sql(s"SELECT count(*) AS n_rows, sum(bal_c) AS bal_sum," +
      s" sum(c_custkey) AS key_sum FROM $t")
  }

  val mergeUpsertRoundtripOracle: String =
    """WITH base AS (SELECT CAST(c_custkey AS BIGINT) AS c_custkey,
            CAST(round(c_acctbal * 100) AS BIGINT) AS bal_c
          FROM customer),
        after_del AS (SELECT * FROM base WHERE c_custkey % 3 <> 0),
        src AS (SELECT c_custkey AS id, bal_c + 100000 AS bal_c
                FROM base WHERE c_custkey % 7 = 0
                UNION ALL
                SELECT c_custkey + 10000000, CAST(555 AS BIGINT)
                FROM base WHERE c_custkey % 11 = 0),
        merged AS (
          SELECT t.c_custkey,
            coalesce(s.bal_c, t.bal_c) AS bal_c
          FROM after_del t LEFT JOIN src s ON t.c_custkey = s.id
          UNION ALL
          SELECT s.id, s.bal_c FROM src s
          LEFT JOIN after_del t ON t.c_custkey = s.id
          WHERE t.c_custkey IS NULL)
        SELECT count(*) AS n_rows,
          CAST(sum(bal_c) AS BIGINT) AS bal_sum,
          CAST(sum(c_custkey) AS BIGINT) AS key_sum
        FROM merged"""

  /** `dsv2_merge_mor`: the same SQL MERGE surface through the DELTA
    * (merge-on-read) path — the table property
    * `graft.ledger.rowLevelMode=mor` makes the table's row-level
    * operation implement [[SupportsDelta]], so Spark plans
    * `WriteDelta` against the `(_file, _pos)` rowId and the commit
    * installs deletion vectors + appended files with NO
    * touched file rewritten. Three connector verdicts fold into the
    * oracle hash alongside the replayed state digest:
    * `files_preserved` (every pre-merge data file name survives — a
    * COW rewrite or a lost file flips it), `one_commit` (delete +
    * update + insert arms land as exactly one version), and
    * `dv_present` (at least one deletion vector was installed). */
  def mergeMoRRoundtrip(spark: SparkSession, sfDir: String): DataFrame = {
    val tag = LedgerGate.tag(sfDir)
    val ct = catalogTable(spark, "rlo", "mor_merge", sfDir,
      "(c_custkey BIGINT, bal_c BIGINT)" +
        " TBLPROPERTIES ('graft.ledger.rowLevelMode'='mor')")
    val (t, dir) = (ct.name, ct.root)
    graft.io.Tables.customer(spark, sfDir)
      .selectExpr("CAST(c_custkey AS BIGINT) AS c_custkey",
        "CAST(round(c_acctbal * 100) AS BIGINT) AS bal_c")
      .createOrReplaceTempView(s"mm_base_$tag")
    spark.sql(s"INSERT INTO $t SELECT c_custkey, bal_c FROM mm_base_$tag")
    // source rows are key-unique by construction (the %5 and %7∧¬%5
    // branches are disjoint; inserts live in a shifted key space), so
    // the MERGE cardinality check cannot trip
    spark.sql(
      s"""SELECT c_custkey AS id, 'del' AS kind, CAST(0 AS BIGINT) AS nv
          FROM mm_base_$tag WHERE c_custkey % 5 = 0
          UNION ALL
          SELECT c_custkey, 'upd', bal_c + 100000
          FROM mm_base_$tag WHERE c_custkey % 7 = 0 AND c_custkey % 5 <> 0
          UNION ALL
          SELECT c_custkey + 10000000, 'ins', CAST(555 AS BIGINT)
          FROM mm_base_$tag WHERE c_custkey % 11 = 0""")
      .createOrReplaceTempView(s"mm_src_$tag")
    val preFiles = LedgerSink.readManifest(dir).get.files.map(_.file).toSet
    val preVersion = LedgerSink.currentVersion(dir)
    spark.sql(
      s"""MERGE INTO $t AS tgt USING mm_src_$tag AS src
          ON tgt.c_custkey = src.id
          WHEN MATCHED AND src.kind = 'del' THEN DELETE
          WHEN MATCHED THEN UPDATE SET bal_c = src.nv
          WHEN NOT MATCHED THEN INSERT (c_custkey, bal_c)
            VALUES (src.id, src.nv)""")
    val post = LedgerSink.readManifest(dir).get
    val preserved = preFiles.subsetOf(post.files.map(_.file).toSet)
    val oneCommit = LedgerSink.currentVersion(dir) == preVersion + 1
    val dvPresent = post.files.exists(_.dv.nonEmpty)
    spark.sql(s"SELECT count(*) AS n_rows, sum(bal_c) AS bal_sum," +
      s" sum(c_custkey) AS key_sum, ${flag("files_preserved", preserved)}," +
      s" ${flag("one_commit", oneCommit)}, ${flag("dv_present", dvPresent)} FROM $t")
  }

  val mergeMoRRoundtripOracle: String =
    """WITH base AS (SELECT CAST(c_custkey AS BIGINT) AS c_custkey,
            CAST(round(c_acctbal * 100) AS BIGINT) AS bal_c
          FROM customer),
        src AS (
          SELECT c_custkey AS id, 'del' AS kind, CAST(0 AS BIGINT) AS nv
          FROM base WHERE c_custkey % 5 = 0
          UNION ALL
          SELECT c_custkey, 'upd', bal_c + 100000
          FROM base WHERE c_custkey % 7 = 0 AND c_custkey % 5 <> 0
          UNION ALL
          SELECT c_custkey + 10000000, 'ins', CAST(555 AS BIGINT)
          FROM base WHERE c_custkey % 11 = 0),
        merged AS (
          SELECT t.c_custkey,
            CASE WHEN s.kind = 'upd' THEN s.nv ELSE t.bal_c END AS bal_c
          FROM base t LEFT JOIN src s ON t.c_custkey = s.id
          WHERE s.kind IS NULL OR s.kind <> 'del'
          UNION ALL
          SELECT s.id, s.nv FROM src s
          LEFT JOIN base t ON t.c_custkey = s.id
          WHERE t.c_custkey IS NULL)
        SELECT count(*) AS n_rows,
          CAST(sum(bal_c) AS BIGINT) AS bal_sum,
          CAST(sum(c_custkey) AS BIGINT) AS key_sum,
          CAST(1 AS INTEGER) AS files_preserved,
          CAST(1 AS INTEGER) AS one_commit,
          CAST(1 AS INTEGER) AS dv_present
        FROM merged"""

  /** `dsv2_version_history`: the DESCRIBE HISTORY analogue — one row
    * per table version with its row count and balance digest, read
    * through `versionAsOf`, across every commit kind in one lineage:
    * CREATE (v1, empty), INSERT (v2), append INSERT (v3), and a
    * non-aligned copy-on-write DELETE (v4 = live). The oracle
    * recomputes all four states from the fixture, so the hash pins
    * that each commit archived exactly the state it replaced — an
    * append that leaked into v2, or a COW delete that rewrote
    * history, changes a digest. */
  def versionHistory(spark: SparkSession, sfDir: String): DataFrame = {
    val tag = LedgerGate.tag(sfDir)
    val t = catalogTable(spark, "rlo", "hist", sfDir,
      "(c_custkey BIGINT, bal_c BIGINT)").name
    graft.io.Tables.customer(spark, sfDir)
      .selectExpr("CAST(c_custkey AS BIGINT) AS c_custkey",
        "CAST(round(c_acctbal * 100) AS BIGINT) AS bal_c")
      .createOrReplaceTempView(s"vh_base_$tag")
    spark.sql(s"INSERT INTO $t SELECT c_custkey, bal_c FROM vh_base_$tag" +
      " WHERE c_custkey % 2 = 1")
    spark.sql(s"INSERT INTO $t SELECT c_custkey, bal_c FROM vh_base_$tag" +
      " WHERE c_custkey % 2 = 0")
    spark.sql(s"DELETE FROM $t WHERE c_custkey % 5 = 0")
    (1 to 4).map { v =>
      spark.sql(s"SELECT ${intCol("version", v)}," +
        s" count(*) AS n_rows, coalesce(sum(bal_c), CAST(0 AS BIGINT))" +
        s" AS bal_sum FROM $t VERSION AS OF $v")
    }.reduce(_ unionByName _).orderBy("version")
  }

  val versionHistoryOracle: String =
    """WITH base AS (SELECT CAST(c_custkey AS BIGINT) AS k,
            CAST(round(c_acctbal * 100) AS BIGINT) AS b
          FROM customer)
       SELECT CAST(1 AS INTEGER) AS version, 0 AS n_rows,
         CAST(0 AS BIGINT) AS bal_sum
       UNION ALL
       SELECT 2, count(*), CAST(sum(b) AS BIGINT) FROM base WHERE k % 2 = 1
       UNION ALL
       SELECT 3, count(*), CAST(sum(b) AS BIGINT) FROM base
       UNION ALL
       SELECT 4, count(*), CAST(sum(b) AS BIGINT) FROM base WHERE k % 5 <> 0
       ORDER BY version"""

  val timeTravelRoundtripOracle: String =
    """SELECT 'live' AS snapshot, count(*) AS n_rows,
         CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT) AS bal_cents
       FROM customer WHERE c_nationkey < 13
       UNION ALL
       SELECT 'v1', count(*),
         CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT)
       FROM customer
       ORDER BY snapshot"""

  /** `dsv2_timestamp_travel`: TIMESTAMP AS OF over the per-commit
    * clock — every commit records a strictly-monotonic `#ts:` header,
    * and `timestampAsOf` resolves to the greatest version committed
    * at-or-before the instant (Delta's contract). Wall-clock values
    * are not reproducible, so the gate folds RESOLUTION VERDICTS into
    * the oracle hash instead of the clock itself: reading at v1's
    * exact boundary, one millisecond before v2, at v2, and an hour in
    * the future must serve exactly v1/v1/v2/live — digests DuckDB
    * recomputes from the fixture — and a timestamp before the first
    * commit must fail loud. */
  def timestampTravel(spark: SparkSession, sfDir: String): DataFrame = {
    val t = scratch(spark, "rt", sfDir, "_tsas")
    val cust = graft.io.Tables.customer(spark, sfDir)
      .select("c_custkey", "c_name", "c_nationkey", "c_acctbal")
    t.write(cust, "overwrite")                                 // v1
    t.write(cust.filter(col("c_nationkey") < 13), "overwrite") // v2
    t.write(cust.filter(col("c_nationkey") >= 20), "append")   // v3 (live)
    val ts = LedgerSink.commitTimestamps(t.root).toMap
    def readAt(millis: Long): DataFrame =
      t.read("timestampAsOf" -> millis.toString)
    val beforeFirstFails =
      fails[IllegalArgumentException](readAt(ts(1) - 1).count())
    snapshotDigest(readAt(ts(1)), "t1_v1")
      .unionByName(snapshotDigest(readAt(ts(2) - 1), "t2_minus_v1"))
      .unionByName(snapshotDigest(readAt(ts(2)), "t2_v2"))
      .unionByName(snapshotDigest(readAt(ts(3) + 3600000L), "t9_live"))
      .selectExpr("snapshot", "n_rows", "bal_cents",
        flag("ts_monotone", ts(1) < ts(2) && ts(2) < ts(3)),
        flag("before_first_fails", beforeFirstFails))
      .orderBy("snapshot")
  }

  val timestampTravelOracle: String =
    """WITH c AS (SELECT c_nationkey,
           CAST(round(c_acctbal * 100) AS BIGINT) AS bal FROM customer),
        v1 AS (SELECT count(*) AS n, CAST(sum(bal) AS BIGINT) AS b FROM c),
        v2 AS (SELECT count(*) AS n, CAST(sum(bal) AS BIGINT) AS b
          FROM c WHERE c_nationkey < 13),
        v3 AS (SELECT count(*) AS n, CAST(sum(bal) AS BIGINT) AS b
          FROM c WHERE c_nationkey < 13 OR c_nationkey >= 20)
       SELECT s.snapshot, s.n_rows, s.bal_cents,
         CAST(1 AS INTEGER) AS ts_monotone,
         CAST(1 AS INTEGER) AS before_first_fails
       FROM (
         SELECT 't1_v1' AS snapshot, n AS n_rows, b AS bal_cents FROM v1
         UNION ALL SELECT 't2_minus_v1', n, b FROM v1
         UNION ALL SELECT 't2_v2', n, b FROM v2
         UNION ALL SELECT 't9_live', n, b FROM v3) s
       ORDER BY s.snapshot"""

  /** `dsv2_equality_upsert`: the Iceberg v2 EQUALITY-DELETE tier as a
    * CDC-apply replay — two single-commit upserts
    * ([[LedgerMaintenance.upsertByKeys]]: equality delete on the batch
    * keys + append, NO data file read) around a kill-list
    * [[LedgerMaintenance.deleteByKeys]], exercising the data-sequence
    * contract end to end: batch-2 REVIVES keys the kill list erased
    * (its appends outsequence the delete), while batch-1's appended
    * images die to the kill list (they predate it). Folded connector
    * verdicts: the three ops landed as exactly three commits with
    * equality deletes active; NO base data file was ever rewritten
    * (`files_preserved` — the O(batch) promise); OPTIMIZE then
    * materializes the deletes (eqDeletes GC'd, physical rows == live
    * rows) with the digest unchanged. DuckDB replays the same three
    * batches relationally. */
  def equalityUpsert(spark: SparkSession, sfDir: String): DataFrame = {
    val t = scratch(spark, "rt", sfDir, "_equ")
    val (dir, root) = (t.dir, t.root)
    val base = graft.io.Tables.customer(spark, sfDir)
      .selectExpr("CAST(c_custkey AS BIGINT) AS k",
        "CAST(round(c_acctbal * 100) AS BIGINT) AS bal")
    t.write(base, "overwrite")                                       // v1
    val baseFiles = LedgerSink.readManifest(root).get.files.map(_.file).toSet
    val b1 = base.filter(col("k") % 7 === 0)
      .select(col("k"), (col("bal") + 100000L).as("bal"))
      .unionByName(base.filter(col("k") % 11 === 0)
        .select((col("k") + 10000000L).as("k"), lit(555L).as("bal")))
    LedgerMaintenance.upsertByKeys(spark, dir, Seq("k"), b1): Unit   // v2
    LedgerMaintenance.deleteByKeys(spark, dir, Seq("k"),
      base.filter(col("k") % 5 === 0).select("k")): Unit             // v3
    val b2 = base.filter(col("k") % 3 === 0)
      .select(col("k"), lit(777L).as("bal"))
    LedgerMaintenance.upsertByKeys(spark, dir, Seq("k"), b2): Unit   // v4
    val m = LedgerSink.readManifest(root).get
    val eqdActive = LedgerSink.currentVersion(root) == 4 && m.eqDeletes.nonEmpty
    val filesPreserved = baseFiles.subsetOf(m.files.map(_.file).toSet)
    def liveRow() = digest(t.read(), "live", "bal" -> "bal", "k" -> "key").collect()(0)
    val pre = liveRow()
    LedgerMaintenance.optimize(spark, dir): Unit                     // v5
    val post = liveRow()
    val m2 = LedgerSink.readManifest(root).get
    val morMaterialized =
      m2.eqDeletes.isEmpty && m2.files.map(_.rows).sum == pre.getLong(0)
    spark.sql("SELECT " + (longCols(pre, "n_rows", "bal_sum", "key_sum") ++ Seq(
      flag("eqd_active", eqdActive), flag("files_preserved", filesPreserved),
      flag("after_optimize_equal", pre == post),
      flag("mor_materialized", morMaterialized))).mkString(", "))
  }

  val equalityUpsertOracle: String =
    """WITH base AS (SELECT CAST(c_custkey AS BIGINT) AS k,
           CAST(round(c_acctbal * 100) AS BIGINT) AS bal FROM customer),
        b1 AS (SELECT k, bal + 100000 AS bal FROM base WHERE k % 7 = 0
          UNION ALL
          SELECT k + 10000000, CAST(555 AS BIGINT) FROM base WHERE k % 11 = 0),
        s2 AS (SELECT k, bal FROM base WHERE k NOT IN (SELECT k FROM b1)
          UNION ALL SELECT k, bal FROM b1),
        s3 AS (SELECT k, bal FROM s2
          WHERE k NOT IN (SELECT k FROM base WHERE k % 5 = 0)),
        b2 AS (SELECT k, CAST(777 AS BIGINT) AS bal FROM base WHERE k % 3 = 0),
        s4 AS (SELECT k, bal FROM s3 WHERE k NOT IN (SELECT k FROM b2)
          UNION ALL SELECT k, bal FROM b2)
       SELECT count(*) AS n_rows,
         CAST(sum(bal) AS BIGINT) AS bal_sum,
         CAST(sum(k) AS BIGINT) AS key_sum,
         CAST(1 AS INTEGER) AS eqd_active,
         CAST(1 AS INTEGER) AS files_preserved,
         CAST(1 AS INTEGER) AS after_optimize_equal,
         CAST(1 AS INTEGER) AS mor_materialized
       FROM s4"""
}
