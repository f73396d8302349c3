package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{EqualTo, GreaterThanOrEqual, LessThan}

/** Oracle gates for the round-10 ledger lifecycle tiers — partition
  * pruning, id-based schema evolution, OPTIMIZE, and CDC-driven
  * incremental dedup. Each query drives the PUBLIC surface (SQL
  * through the catalog plugin, or the DataFrame reader options) and
  * folds the engine-side pruning/compaction evidence into the output
  * row, so the DuckDB hash pins both the VALUES (nothing lost or
  * duplicated by pruning/compaction) and the PLAN facts (how many
  * files the connector's own planner admitted).
  *
  * Reference tie-in: the reference writes its curated zone
  * partitioned by y/m/d exactly so Athena can prune partitions
  * (01_sales_revenue_etl.py:96-101); these gates reproduce that
  * contract at the connector layer, where it can be asserted rather
  * than assumed. */
object LedgerLifecycle {
  import LedgerGate._

  /** `dsv2_partition_pruning`: customer loaded into a table
    * `PARTITIONED BY (c_mktsegment)` through plain SQL, then read
    * under a partition predicate. The write's clustered distribution
    * puts each of the 5 segments in exactly one task → one file per
    * segment, so the connector's own planner must admit EXACTLY ONE
    * file for the predicate — `files_planned` and `prune_strict`
    * carry that verdict into the oracle-hashed output, alongside the
    * segment digest DuckDB recomputes from the fixture (pruning that
    * dropped a matching file would poison n_rows/bal_sum; pruning
    * that kept extras would poison files_planned). */
  def partitionPruning(spark: SparkSession, sfDir: String): DataFrame = {
    val t = catalogTable(spark, "pp", "cust", sfDir,
      """(c_custkey BIGINT, c_mktsegment STRING, bal_c BIGINT)
          PARTITIONED BY (c_mktsegment)""")
    graft.io.Tables.customer(spark, sfDir)
      .createOrReplaceTempView(s"pp_base_${tag(sfDir)}")
    spark.sql(
      s"""INSERT INTO ${t.name}
          SELECT CAST(c_custkey AS BIGINT), c_mktsegment,
                 CAST(round(c_acctbal * 100) AS BIGINT)
          FROM pp_base_${tag(sfDir)}""")
    val planned = plannedFiles(t.root, Array(EqualTo("c_mktsegment", "BUILDING")))
    val total = LedgerSink.readManifest(t.root).get.files.length
    spark.sql(
      s"""SELECT count(*) AS n_rows, sum(bal_c) AS bal_sum
          FROM ${t.name} WHERE c_mktsegment = 'BUILDING'""")
      .selectExpr("n_rows", "bal_sum", intCol("files_planned", planned),
        flag("prune_strict", planned < total))
  }

  val partitionPruningOracle: String =
    """SELECT count(*) AS n_rows,
         CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT) AS bal_sum,
         CAST(1 AS INTEGER) AS files_planned,
         CAST(1 AS INTEGER) AS prune_strict
       FROM customer WHERE c_mktsegment = 'BUILDING'"""

  /** `dsv2_schema_evolution`: the full evolution chain as versioned
    * commits — CREATE (k, name) → INSERT nations → ADD COLUMN extra →
    * INSERT regions (with extra) → RENAME name TO label → DROP
    * COLUMN extra — then one probe row PER VERSION, each read through
    * `VERSION AS OF` under that version's own schema. What the hash
    * pins: pre-add rows read NULL for the added column (v3/v4), the
    * renamed column feeds from files written under BOTH names (v5),
    * the drop hides the column without touching the rows that carried
    * it (v6), and no commit leaked into its neighbors. */
  def schemaEvolution(spark: SparkSession, sfDir: String): DataFrame = {
    val g = tag(sfDir)
    val t = catalogTable(spark, "evo", "chain", sfDir,
      "(k BIGINT, name STRING)").name                                 // v1
    graft.io.Tables.nation(spark, sfDir)
      .createOrReplaceTempView(s"evo_nation_$g")
    graft.io.Tables.region(spark, sfDir)
      .createOrReplaceTempView(s"evo_region_$g")
    spark.sql(s"""INSERT INTO $t
      SELECT CAST(n_nationkey AS BIGINT), n_name FROM evo_nation_$g""") // v2
    spark.sql(s"ALTER TABLE $t ADD COLUMN extra BIGINT")               // v3
    spark.sql(s"""INSERT INTO $t
      SELECT CAST(r_regionkey + 100 AS BIGINT), r_name,
             CAST((r_regionkey + 100) * 7 AS BIGINT)
      FROM evo_region_$g""")                                           // v4
    spark.sql(s"ALTER TABLE $t RENAME COLUMN name TO label")           // v5
    spark.sql(s"ALTER TABLE $t DROP COLUMN extra")                     // v6
    def probe(p: String, v: Int, nameCol: String, hasExtra: Boolean) = {
      val extraSum =
        if (hasExtra) "CAST(coalesce(sum(extra), 0) AS BIGINT)"
        else "CAST(-1 AS BIGINT)"
      val extraNulls =
        if (hasExtra) "CAST(count(*) - count(extra) AS BIGINT)"
        else "CAST(-1 AS BIGINT)"
      spark.sql(
        s"""SELECT '$p' AS probe, count(*) AS n,
              CAST(sum(k) AS BIGINT) AS sum_k,
              min($nameCol) AS name_min, max($nameCol) AS name_max,
              $extraSum AS extra_sum, $extraNulls AS n_extra_null
            FROM $t VERSION AS OF $v""")
    }
    Seq(
      probe("v2_insert1", 2, "name", hasExtra = false),
      probe("v3_addcol", 3, "name", hasExtra = true),
      probe("v4_insert2", 4, "name", hasExtra = true),
      probe("v5_rename", 5, "label", hasExtra = true),
      probe("v6_drop", 6, "label", hasExtra = false))
      .reduce(_ unionByName _).orderBy("probe")
  }

  val schemaEvolutionOracle: String =
    """WITH b1 AS (SELECT CAST(n_nationkey AS BIGINT) AS k, n_name AS nm
            FROM nation),
        b2 AS (SELECT CAST(r_regionkey + 100 AS BIGINT) AS k, r_name AS nm,
            CAST((r_regionkey + 100) * 7 AS BIGINT) AS ex FROM region),
        u AS (SELECT k, nm FROM b1 UNION ALL SELECT k, nm FROM b2)
       SELECT 'v2_insert1' AS probe, count(*) AS n,
         CAST(sum(k) AS BIGINT) AS sum_k,
         min(nm) AS name_min, max(nm) AS name_max,
         CAST(-1 AS BIGINT) AS extra_sum, CAST(-1 AS BIGINT) AS n_extra_null
       FROM b1
       UNION ALL
       SELECT 'v3_addcol', count(*), CAST(sum(k) AS BIGINT), min(nm), max(nm),
         CAST(0 AS BIGINT), count(*)
       FROM b1
       UNION ALL
       SELECT 'v4_insert2', (SELECT count(*) FROM u),
         (SELECT CAST(sum(k) AS BIGINT) FROM u),
         (SELECT min(nm) FROM u), (SELECT max(nm) FROM u),
         (SELECT CAST(sum(ex) AS BIGINT) FROM b2),
         (SELECT count(*) FROM b1)
       UNION ALL
       SELECT 'v5_rename', (SELECT count(*) FROM u),
         (SELECT CAST(sum(k) AS BIGINT) FROM u),
         (SELECT min(nm) FROM u), (SELECT max(nm) FROM u),
         (SELECT CAST(sum(ex) AS BIGINT) FROM b2),
         (SELECT count(*) FROM b1)
       UNION ALL
       SELECT 'v6_drop', (SELECT count(*) FROM u),
         (SELECT CAST(sum(k) AS BIGINT) FROM u),
         (SELECT min(nm) FROM u), (SELECT max(nm) FROM u),
         CAST(-1 AS BIGINT), CAST(-1 AS BIGINT)
       ORDER BY probe"""

  /** `dsv2_type_widening`: the Iceberg-spec safe promotion INT →
    * BIGINT as a pure metadata commit. Orders load under an INT key
    * (v2), `ALTER COLUMN okey TYPE BIGINT` widens without touching a
    * data file (v3), and an append lands keys ABOVE Int.MaxValue —
    * values only a genuine 64-bit read can represent (v4). The digest
    * then scans MIXED files (written-as-int + written-as-long) through
    * the widened schema; time travel at v2 must read the column as
    * INT again (each version decodes under its own schema); narrowing
    * (BIGINT → INT) and a cross-family change (STRING → BIGINT) must
    * refuse. DuckDB recomputes the digests from the fixture. */
  def typeWidening(spark: SparkSession, sfDir: String): DataFrame = {
    val g = tag(sfDir)
    val t = catalogTable(spark, "tw", "ord", sfDir,
      "(okey INT, price_c BIGINT)").name                              // v1
    graft.io.Tables.orders(spark, sfDir)
      .createOrReplaceTempView(s"tw_base_$g")
    spark.sql(s"""INSERT INTO $t
        SELECT CAST(o_orderkey AS INT),
               CAST(round(o_totalprice * 100) AS BIGINT)
        FROM tw_base_$g""")                                           // v2
    spark.sql(s"ALTER TABLE $t ALTER COLUMN okey TYPE BIGINT")        // v3
    val widenedTypeOk = spark.table(t).schema("okey").dataType ==
      org.apache.spark.sql.types.LongType
    spark.sql(s"""INSERT INTO $t
        SELECT CAST(o_orderkey AS BIGINT) + 2147483648,
               CAST(round(o_totalprice * 100) AS BIGINT)
        FROM tw_base_$g WHERE o_orderkey % 100 = 0""")                // v4
    val v2Df = spark.sql(s"SELECT * FROM $t VERSION AS OF 2")
    val v2TypeInt = v2Df.schema("okey").dataType ==
      org.apache.spark.sql.types.IntegerType
    // Narrowing/cross-family refusals surface at two layers: Spark's
    // own v2 analyzer (Cast.canUpCast gate, NOT_SUPPORTED_CHANGE_COLUMN)
    // for SQL, and this catalog's applyChanges for direct API callers
    // (GraftCatalogSpec pins that layer) — either refusal is the
    // contract; silently succeeding is the failure.
    def alterRefused(sql: String): Boolean =
      refuses("safe", "NOT_SUPPORTED_CHANGE_COLUMN")(spark.sql(sql))
    val narrowRefused =
      alterRefused(s"ALTER TABLE $t ALTER COLUMN price_c TYPE INT")
    // cross-family: first give the table a STRING column to attack
    spark.sql(s"ALTER TABLE $t ADD COLUMN note STRING")               // v5
    val crossRefused =
      alterRefused(s"ALTER TABLE $t ALTER COLUMN note TYPE BIGINT")
    val live = spark.table(t).selectExpr("count(*) AS n",
      "CAST(sum(okey) AS BIGINT) AS sum_k",
      "CAST(sum(price_c) AS BIGINT) AS sum_p")
    val v2d = v2Df.selectExpr("count(*) AS n_v2",
      "CAST(sum(okey) AS BIGINT) AS sum_k_v2")
    live.crossJoin(broadcast(v2d)).selectExpr(
      "n", "sum_k", "sum_p", "n_v2", "sum_k_v2",
      flag("widened_type_ok", widenedTypeOk), flag("v2_type_int", v2TypeInt),
      flag("narrow_refused", narrowRefused), flag("cross_refused", crossRefused))
  }

  /** `dsv2_add_column_default`: ADD COLUMN ... DEFAULT with
    * Delta/Iceberg-v3 INITIAL-DEFAULT semantics, oracle-checked.
    * Customer rows land (v2), then two defaulted columns arrive as
    * pure metadata commits (v3/v4) — every pre-existing row reads
    * 'unassigned' / 250 with NO file rewritten. A later INSERT that
    * OMITS the columns materializes the defaults (Spark's fill from
    * the schema metadata the catalog attaches); an INSERT with an
    * explicit NULL stays NULL (the file HAS the column); RENAME keeps
    * the default (keyed by field id); the pre-evolution version still
    * has neither column. DuckDB recomputes the whole digest from the
    * fixture. */
  def addColumnDefault(spark: SparkSession, sfDir: String): DataFrame = {
    val g = tag(sfDir)
    val t = catalogTable(spark, "dflt", "cust", sfDir,
      "(ckey BIGINT, bal_c BIGINT)").name                             // v1
    graft.io.Tables.customer(spark, sfDir)
      .createOrReplaceTempView(s"dflt_base_$g")
    spark.sql(s"""INSERT INTO $t
        SELECT CAST(c_custkey AS BIGINT),
               CAST(round(c_acctbal * 100) AS BIGINT)
        FROM dflt_base_$g""")                                         // v2
    spark.sql(
      s"ALTER TABLE $t ADD COLUMN segment STRING DEFAULT 'unassigned'") // v3
    spark.sql(s"ALTER TABLE $t ADD COLUMN bonus_c BIGINT DEFAULT 250")  // v4
    // omitted columns MATERIALIZE the defaults in the new file
    spark.sql(s"""INSERT INTO $t (ckey, bal_c)
        SELECT ckey + 10000000, bal_c FROM $t VERSION AS OF 2
        WHERE bal_c < 0""")                                           // v5
    // explicit NULL in a file that HAS the column stays NULL
    spark.sql(s"INSERT INTO $t VALUES (99000001, 42, 'vip', NULL)")   // v6
    val preEvoCols = spark.sql(s"SELECT * FROM $t VERSION AS OF 2")
      .columns.toSeq == Seq("ckey", "bal_c")
    spark.sql(s"ALTER TABLE $t RENAME COLUMN segment TO seg")         // v7
    val renameKeeps = spark.sql(
      s"SELECT count(*) AS n FROM $t WHERE seg = 'unassigned'")
      .head.getLong(0) > 0
    spark.table(t).selectExpr("count(*) AS n_total",
        "CAST(sum(bal_c) AS BIGINT) AS sum_bal",
        "CAST(sum(CASE WHEN seg = 'unassigned' THEN 1 ELSE 0 END) AS BIGINT)" +
          " AS n_unassigned",
        "CAST(sum(CASE WHEN seg = 'vip' THEN 1 ELSE 0 END) AS BIGINT)" +
          " AS n_vip",
        "CAST(sum(bonus_c) AS BIGINT) AS sum_bonus",
        "CAST(count(*) - count(bonus_c) AS BIGINT) AS n_bonus_null")
      .selectExpr("n_total", "sum_bal", "n_unassigned", "n_vip",
        "sum_bonus", "n_bonus_null", flag("pre_evo_two_cols", preEvoCols),
        flag("rename_keeps_default", renameKeeps))
  }

  val addColumnDefaultOracle: String =
    """WITH c AS (SELECT CAST(c_custkey AS BIGINT) AS ckey,
           CAST(round(c_acctbal * 100) AS BIGINT) AS bal FROM customer),
        neg AS (SELECT * FROM c WHERE bal < 0)
       SELECT (SELECT count(*) FROM c) + (SELECT count(*) FROM neg) + 1
           AS n_total,
         (SELECT CAST(sum(bal) AS BIGINT) FROM c)
           + (SELECT CAST(sum(bal) AS BIGINT) FROM neg) + 42 AS sum_bal,
         (SELECT count(*) FROM c) + (SELECT count(*) FROM neg)
           AS n_unassigned,
         CAST(1 AS BIGINT) AS n_vip,
         250 * ((SELECT count(*) FROM c) + (SELECT count(*) FROM neg))
           AS sum_bonus,
         CAST(1 AS BIGINT) AS n_bonus_null,
         CAST(1 AS INTEGER) AS pre_evo_two_cols,
         CAST(1 AS INTEGER) AS rename_keeps_default"""

  val typeWideningOracle: String =
    """WITH o AS (SELECT CAST(o_orderkey AS BIGINT) AS k,
           CAST(round(o_totalprice * 100) AS BIGINT) AS p FROM orders),
        w AS (SELECT k + 2147483648 AS k, p FROM o WHERE k % 100 = 0),
        u AS (SELECT k, p FROM o UNION ALL SELECT k, p FROM w)
       SELECT (SELECT count(*) FROM u) AS n,
         (SELECT CAST(sum(k) AS BIGINT) FROM u) AS sum_k,
         (SELECT CAST(sum(p) AS BIGINT) FROM u) AS sum_p,
         (SELECT count(*) FROM o) AS n_v2,
         (SELECT CAST(sum(k) AS BIGINT) FROM o) AS sum_k_v2,
         CAST(1 AS INTEGER) AS widened_type_ok,
         CAST(1 AS INTEGER) AS v2_type_int,
         CAST(1 AS INTEGER) AS narrow_refused,
         CAST(1 AS INTEGER) AS cross_refused"""

  /** `dsv2_compaction`: ten small appends model the epoch-grain file
    * accumulation of the streaming sink (each append repartition(2) →
    * two staged files), then [[LedgerMaintenance.optimize]] bin-packs
    * all twenty into ONE file as a versioned commit. The output row
    * carries the before/after file counts, the full-table digest
    * DuckDB recomputes from the fixture (compaction lost or doubled
    * nothing), and an in-engine flag that the PRE-OPTIMIZE version
    * still reads identically through time travel (compaction is a
    * commit, not a rewrite of history). */
  def compaction(spark: SparkSession, sfDir: String): DataFrame = {
    val t = scratch(spark, "opt", sfDir)
    val cust = graft.io.Tables.customer(spark, sfDir).selectExpr(
      "CAST(c_custkey AS BIGINT) AS c_custkey", "c_name",
      "CAST(round(c_acctbal * 100) AS BIGINT) AS bal_c")
    (0 until 10).foreach { i =>
      t.write(cust.filter(col("c_custkey") % 10 === i).repartition(2),
        if (i == 0) "overwrite" else "append")
    }
    val preVersion = LedgerSink.currentVersion(t.root)
    val (nb, na) = LedgerMaintenance.optimize(spark, t.dir, 64L << 20)
    val pre = digest(t.read("versionAsOf" -> preVersion.toString), "pre",
      "bal_c" -> "bal", "c_custkey" -> "key")
    t.read().selectExpr("count(*) AS n_rows", "sum(bal_c) AS bal_sum",
        "sum(c_custkey) AS key_sum")
      .crossJoin(broadcast(pre))
      .selectExpr(intCol("files_before", nb), intCol("files_after", na),
        "n_rows", "bal_sum", "key_sum",
        "CAST(CASE WHEN n_rows = n_pre AND bal_sum = bal_pre" +
          " AND key_sum = key_pre THEN 1 ELSE 0 END AS INT) AS old_version_intact")
  }

  val compactionOracle: String =
    """SELECT CAST(20 AS INTEGER) AS files_before,
         CAST(1 AS INTEGER) AS files_after,
         count(*) AS n_rows,
         CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT) AS bal_sum,
         CAST(sum(c_custkey) AS BIGINT) AS key_sum,
         CAST(1 AS INTEGER) AS old_version_intact
       FROM customer"""

  /** `dsv2_commit_volume`: the full maintenance cycle under a commit
    * count that SCALES WITH THE DATA — the scale lane's missing axis
    * (VERDICT r12 #3). [[compaction]] fixes the chain at 10 commits
    * while the data grows; a real epoch-grain producer commits per
    * micro-batch, so 10× the data is 10× the manifest chain, 10× the
    * optimize bin set and 10× the expire/vacuum walk. Here the
    * customer table lands in max(3, ceil(n/1000)) single-file commits
    * (~15 at sf0.1, ~150 at the sf1.0 replica); the LAST micro-batch
    * lands while the maintenance window is open — i.e. AFTER OPTIMIZE
    * bin-packs the chain — which is what moves the newest archived
    * manifest past the pre-optimize state ([[LedgerRefs.expireVersions]]
    * always retains the newest archive as the rollback target, and an
    * empty append is a no-op commit, so WITHOUT a real post-optimize
    * commit the retained archive would keep every original commit file
    * pinned and vacuum would reclaim nothing — measured, not
    * hypothetical). Then expireVersions(keepLast=1) retires exactly
    * the pre-optimize archives 1..commits-1 and the explicit-horizon
    * vacuum (single-writer maintenance-window form) reclaims exactly
    * the commits-1 original batch files the optimize rewrite
    * unreferenced. Output: exact row digests DuckDB recomputes from
    * `customer`, the (data-dependent) commit count the oracle derives
    * the same way, and exact invariant flags. */
  def commitVolume(spark: SparkSession, sfDir: String): DataFrame = {
    val t = scratch(spark, "cvol", sfDir)
    val cust = graft.io.Tables.customer(spark, sfDir).selectExpr(
      "CAST(c_custkey AS BIGINT) AS ckey",
      "CAST(round(c_acctbal * 100) AS BIGINT) AS bal_c")
    val n = cust.count()
    val nCommits = math.max(3L, (n + 999) / 1000).toInt
    // one materialization feeds every commit's narrow filter — the
    // producer's staging buffer, not nCommits re-scans of the source
    val staged = graft.ops.Checkpoints.cut(
      cust.withColumn("b", pmod(col("ckey"), lit(nCommits.toLong))))
    def commitBatch(i: Int): Unit =
      t.write(staged.where(col("b") === i).drop("b").coalesce(1),
        if (i == 0) "overwrite" else "append")
    (0 until nCommits - 1).foreach(commitBatch)
    // input digest, COLLECTED pre-maintenance: a lazy frame would
    // re-read the table after the maintenance below and make
    // live_intact vacuously true
    val preRow = staged
      .selectExpr("count(*)", "sum(bal_c)", "sum(ckey)").head
    val (nb, na) = LedgerMaintenance.optimize(spark, t.dir, 64L << 20)
    commitBatch(nCommits - 1) // the through-the-window commit
    val expired = LedgerRefs.expireVersions(t.root, keepLast = 1)
    val reclaimed = LedgerSink.vacuum(t.root, olderThanMillis = 0L).size
    t.read()
      .selectExpr("count(*) AS n_rows", "sum(bal_c) AS bal_sum",
        "sum(ckey) AS key_sum")
      .selectExpr(
        "n_rows", "bal_sum", "key_sum", intCol("commits", nCommits),
        flag("one_file_per_commit", nb == nCommits - 1),
        flag("compacted", na < nb),
        flag("expired_all_pre", expired == (1 until nCommits)),
        flag("vacuum_reclaimed_all", reclaimed == nCommits - 1),
        s"CAST(CASE WHEN n_rows = ${preRow.getLong(0)}L" +
          s" AND bal_sum = ${preRow.getLong(1)}L" +
          s" AND key_sum = ${preRow.getLong(2)}L" +
          " THEN 1 ELSE 0 END AS INT) AS live_intact")
  }

  val commitVolumeOracle: String =
    """SELECT count(*) AS n_rows,
         CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT) AS bal_sum,
         CAST(sum(c_custkey) AS BIGINT) AS key_sum,
         CAST(greatest(3, ceil(count(*) / 1000.0)) AS INTEGER) AS commits,
         CAST(1 AS INTEGER) AS one_file_per_commit,
         CAST(1 AS INTEGER) AS compacted,
         CAST(1 AS INTEGER) AS expired_all_pre,
         CAST(1 AS INTEGER) AS vacuum_reclaimed_all,
         CAST(1 AS INTEGER) AS live_intact
       FROM customer"""

  /** `dsv2_cdc_incremental_dedup`: near-dup state maintained from
    * ledger COMMITS instead of full rescans — the production shape
    * where the corpus grows by append and each new version's delta is
    * checked against what existed before it. Documents land in a
    * ledger table across three append commits (doc_id % 3); for each
    * version, the CDC read supplies EXACTLY the appended delta, the
    * delta is deduped within itself (the batch pipeline on the small
    * side) and against the accumulated corpus FEATURE STATE
    * ([[graft.llm.Dedup.crossPairsOriented]] — band equi-join with the
    * delta side broadcast, signature pre-filter, exact-Jaccard
    * verify). The corpus side is maintained incrementally: commit v's
    * state is the UNION of the delta feature relations of commits
    * 1..v−1, each featurized exactly once (and lineage-cut so no
    * consumer recomputes it) — per-commit cost is O(delta feature
    * work + banded join), never a corpus re-read or re-featurize,
    * which is the contract that survives a corpus 10⁶× the daily
    * crawl. Because every tier applies the batch pipeline's exact
    * survival predicate (band collision ∧ ≥6/16 signatures ∧ Jaccard
    * ≥ 0.5), the union over commits equals the batch answer over the
    * union — which is precisely what the oracle demands: the hash is
    * the FULL-corpus `dedup_minhash_pairs` oracle, so one lost or
    * duplicated delta pair fails the gate. */
  def cdcIncrementalDedup(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.llm.Dedup
    val t = scratch(spark, "cdc", sfDir)
    // one materialization feeds all three commits' narrow filters (the
    // commitVolume staging-buffer pattern, r14): the text-heavy
    // documents scan ran once per commit before
    val docs = graft.ops.Checkpoints.cut(
      graft.io.Tables.documents(spark, sfDir)
        .selectExpr("CAST(doc_id AS BIGINT) AS doc_id", "lang", "source",
          "text", "CAST(doc_id AS BIGINT) % 3 AS b"))
    (0 until 3).foreach { b =>
      // Two files per commit, not one-per-scan-task: a daily-crawl
      // append lands as a few well-sized files; ten 100-row files per
      // commit just multiplies manifest entries, bloom sidecars and
      // CDC open() calls — measured as the gate's hypersensitivity to
      // ambient host I/O (r11 driver record 21.6 s vs 7.6 s steady).
      t.write(docs.filter(col("b") === b).drop("b").coalesce(2),
        if (b == 0) "overwrite" else "append")                        // v(b+1)
    }
    def deltaDocs(v: Int): DataFrame = t.read(
      "changesFromVersion" -> (v - 1).toString, "changesToVersion" -> v.toString)
    var corpusFeats: Option[DataFrame] = None
    (1 to 3).map { v =>
      val deltaFeats = graft.ops.Checkpoints.cut(Dedup.featuresOf(deltaDocs(v)))
      val within = Dedup.minhashPairsOf(deltaFeats,
        Dedup.repBandCandidatesOf(deltaFeats))
      val tier = corpusFeats match {
        case None => within
        case Some(state) => within.unionByName(
          Dedup.crossPairsOriented(deltaFeats, state))
      }
      corpusFeats = Some(
        corpusFeats.map(_.unionByName(deltaFeats)).getOrElse(deltaFeats))
      tier
    }.reduce(_ unionByName _).orderBy("doc_a", "doc_b")
  }

  /** The batch pipeline's own oracle — CDC must reproduce it exactly. */
  val cdcIncrementalDedupOracle: String = graft.llm.Dedup.minhashPairsOracle

  /** `dsv2_sorted_compaction`: OPTIMIZE-SORT-BY as the bridge between
    * the compaction tier and the data-skipping tier. Four interleaved
    * appends (o_orderkey mod 4, two files each) give every file a
    * [min, max] spanning the whole key space — the connector's own
    * planner admits ALL 8 files for a mid-key point probe (stats
    * pruning defeated by layout, the realistic post-ingest state).
    * [[LedgerMaintenance.optimizeSorted]] range-clusters the table
    * into disjoint files (the target count is best-effort — the range
    * split may merge adjacent buckets); the same probe then plans
    * EXACTLY 1.
    * Output folds in the planner's before/after counts, a pairwise
    * range-disjointness flag computed from the manifest, the
    * full-table digest (rewrite lost/doubled nothing), and the
    * pre-rewrite version's time-travel digest. The probe key is the
    * metadata midpoint (min+max)/2 — planning facts need no data
    * read, and admission is by range overlap, so the key need not
    * exist in any row. */
  def sortedCompaction(spark: SparkSession, sfDir: String): DataFrame = {
    val t = scratch(spark, "srt", sfDir)
    val ord = graft.io.Tables.orders(spark, sfDir).selectExpr(
      "CAST(o_orderkey AS BIGINT) AS okey",
      "CAST(round(o_totalprice * 100) AS BIGINT) AS price_c",
      "o_orderpriority")
    (0 until 4).foreach { i =>
      t.write(ord.filter(col("okey") % 4 === i).repartition(2),
        if (i == 0) "overwrite" else "append")
    }
    val root = t.root
    val preVersion = LedgerSink.currentVersion(root)
    val (fb, fa) = LedgerMaintenance.optimizeSorted(spark, t.dir, 4)
    // probe key: the SECOND range-clustered file's min — an interior
    // key that exists in the data (sparse key spaces make the
    // metadata midpoint fall into inter-file gaps, where the sorted
    // layout correctly plans ZERO files — right answer, wrong probe).
    // Every pre-rewrite file spans nearly the whole key range, so the
    // same key admits all of them; post-rewrite ranges are disjoint,
    // so it admits exactly one.
    // the file-count target is best-effort (quantile ties can merge
    // buckets), so guard the assumption behind "second file's min"
    // with a readable failure instead of a NoSuchElementException
    val mins = LedgerSink.readManifest(root).get.files
      .flatMap(_.min).sorted
    require(mins.length >= 2,
      s"sorted compaction left ${mins.length} file(s) with stats; " +
        "the interior probe key needs at least 2")
    val probe = Array[org.apache.spark.sql.sources.Filter](EqualTo("okey", mins(1)))
    val probeBefore = plannedFiles(root, probe, Some(preVersion))
    val probeAfter = plannedFiles(root, probe)
    val ranges = LedgerSink.readManifest(root).get.files
      .flatMap(e => e.min.zip(e.max)).sortBy(_._1)
    val disjoint = ranges.sliding(2).forall {
      case Seq((_, hiA), (loB, _)) => hiA < loB
      case _ => true
    }
    val pre = digest(t.read("versionAsOf" -> preVersion.toString), "pre",
      "price_c" -> "price", "okey" -> "key")
    t.read().selectExpr("count(*) AS n_rows", "sum(price_c) AS price_sum",
        "sum(okey) AS key_sum")
      .crossJoin(broadcast(pre))
      .selectExpr(intCol("files_before", fb), flag("files_reduced", fa < fb),
        intCol("probe_files_before", probeBefore),
        intCol("probe_files_after", probeAfter),
        flag("ranges_disjoint", disjoint),
        "n_rows", "price_sum", "key_sum",
        "CAST(CASE WHEN n_rows = n_pre AND price_sum = price_pre" +
          " AND key_sum = key_pre THEN 1 ELSE 0 END AS INT) AS old_version_intact")
  }

  val sortedCompactionOracle: String =
    """SELECT CAST(8 AS INTEGER) AS files_before,
         CAST(1 AS INTEGER) AS files_reduced,
         CAST(8 AS INTEGER) AS probe_files_before,
         CAST(1 AS INTEGER) AS probe_files_after,
         CAST(1 AS INTEGER) AS ranges_disjoint,
         count(*) AS n_rows,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS price_sum,
         CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
         CAST(1 AS INTEGER) AS old_version_intact
       FROM orders"""

  /** `dsv2_spj_join`: STORAGE-PARTITIONED JOIN — the shuffle-free
    * co-partitioned join (Iceberg/Delta's flagship DSv2 scale
    * feature). Customer and supplier load into two ledger tables
    * identity-partitioned on their nation key; both scans report
    * [[org.apache.spark.sql.connector.read.partitioning.KeyGroupedPartitioning]]
    * keyed by partition tuple, so Spark's EnsureRequirements plans the
    * FULL OUTER join (deliberately un-broadcastable — a broadcast
    * would hide the result) as a SortMergeJoin with NO Exchange on
    * either side; mismatched partition-value sets ride the
    * pushPartValues path. The plan verdict (`spj_no_shuffle`) folds
    * into the oracle-hashed output next to the full-outer digest
    * DuckDB recomputes — at 100 TB this is the difference between a
    * fact-to-fact join that moves both tables and one that moves
    * nothing. */
  def spjJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val g = tag(sfDir)
    val tc = catalogTable(spark, "spj", "cust", sfDir,
      "(c_custkey BIGINT, nk BIGINT, bal_c BIGINT) PARTITIONED BY (nk)").name
    val ts = catalogTable(spark, "spj", "supp", sfDir,
      "(s_suppkey BIGINT, nk_s BIGINT, acct_c BIGINT) PARTITIONED BY (nk_s)").name
    graft.io.Tables.customer(spark, sfDir)
      .createOrReplaceTempView(s"spj_cust_$g")
    graft.io.Tables.supplier(spark, sfDir)
      .createOrReplaceTempView(s"spj_supp_$g")
    spark.sql(s"""INSERT INTO $tc
      SELECT CAST(c_custkey AS BIGINT), CAST(c_nationkey AS BIGINT),
             CAST(round(c_acctbal * 100) AS BIGINT)
      FROM spj_cust_$g""")
    spark.sql(s"""INSERT INTO $ts
      SELECT CAST(s_suppkey AS BIGINT), CAST(s_nationkey AS BIGINT),
             CAST(round(s_acctbal * 100) AS BIGINT)
      FROM spj_supp_$g""")
    val j = spark.table(tc)
      .join(spark.table(ts), expr("nk = nk_s"), "full_outer")
    j.groupBy(expr("coalesce(nk, nk_s)").as("nation"))
      .agg(count(col("c_custkey")).as("n_cust"),
        count(col("s_suppkey")).as("n_supp"),
        sum(col("bal_c")).as("bal_sum"),
        sum(col("acct_c")).as("acct_sum"))
      .selectExpr("nation", "n_cust", "n_supp", "bal_sum", "acct_sum",
        flag("spj_no_shuffle", shuffleFreeSmj(j)))
      .orderBy("nation")
  }

  val spjJoinOracle: String =
    """WITH a AS (SELECT CAST(c_custkey AS BIGINT) AS k,
           CAST(c_nationkey AS BIGINT) AS nk,
           CAST(round(c_acctbal * 100) AS BIGINT) AS bal FROM customer),
        b AS (SELECT CAST(s_suppkey AS BIGINT) AS sk,
           CAST(s_nationkey AS BIGINT) AS nks,
           CAST(round(s_acctbal * 100) AS BIGINT) AS acct FROM supplier),
        j AS (SELECT * FROM a FULL OUTER JOIN b ON a.nk = b.nks)
       SELECT coalesce(nk, nks) AS nation,
         count(k) AS n_cust, count(sk) AS n_supp,
         CAST(sum(bal) AS BIGINT) AS bal_sum,
         CAST(sum(acct) AS BIGINT) AS acct_sum,
         CAST(1 AS INTEGER) AS spj_no_shuffle
       FROM j GROUP BY 1 ORDER BY 1"""

  /** `dsv2_stream_replication`: the connector's last quadrant —
    * streaming READ ([[LedgerMicroBatchStream]]) — exercised as
    * ledger→ledger CDC replication, the canonical use of a table's
    * commit log as a stream. Source table: three append commits (2
    * files each), then OPTIMIZE (a rewrite commit). Drain #1
    * (Trigger.AvailableNow, `maxFilesPerTrigger=3` ⇒ one version per
    * batch, `skipChangeCommits=true` ⇒ the OPTIMIZE version advances
    * the offset but replicates nothing) streams every row into the
    * destination ledger through the epoch-committing sink. Then a
    * FOURTH append lands and drain #2 RESUMES FROM THE SAME
    * CHECKPOINT — only the new version may flow. The destination
    * digest is recomputed by DuckDB from the fixture, so the hash
    * pins exactly-once end to end: a re-played version, a doubled
    * OPTIMIZE emission, or a lost resume delta each poison a count
    * or sum. */
  def streamReplication(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    val src = scratch(spark, "repl_src", sfDir)
    val dst = scratch(spark, "repl_dst", sfDir)
    val ckpt = scratch(spark, "repl_ckpt", sfDir).dir
    val cust = graft.io.Tables.customer(spark, sfDir).selectExpr(
      "CAST(c_custkey AS BIGINT) AS c_custkey", "c_mktsegment",
      "CAST(round(c_acctbal * 100) AS BIGINT) AS bal_c")
    (0 until 3).foreach { i =>                                 // v1..v3
      src.write(cust.filter(col("c_custkey") % 3 === i).repartition(2),
        if (i == 0) "overwrite" else "append")
    }
    LedgerMaintenance.optimize(spark, src.dir, 64L << 20): Unit // v4
    def drain(): Unit = {
      val q = src.readStream("skipChangeCommits" -> "true",
          "maxFilesPerTrigger" -> "3")
        .writeStream.format(ledger).option("path", dst.dir)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    drain()
    src.write(cust.filter(col("c_custkey") % 7 === 0)          // v5
      .selectExpr("c_custkey + 1000000 AS c_custkey", "c_mktsegment", "bal_c"),
      "append")
    drain()
    dst.read()
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n"),
        sum(col("bal_c")).as("bal_sum"),
        sum(col("c_custkey")).as("key_sum"))
      .orderBy("c_mktsegment")
  }

  /** `dsv2_transform_partitioning`: bucket(8, key) and days(ts) as
    * first-class partition transforms — the two layouts a 100 TB fact
    * table actually keys SPJ and pruning on (Iceberg's bucket[N] and
    * day specs; the reference's own y/m/d prefix layout IS a date
    * transform, 01_sales_revenue_etl.py:96-101). One output row folds
    * together:
    *   - the DATA digests of a day-range read and of a bucket-
    *     co-partitioned self-join, both recomputed by DuckDB from the
    *     fixture (pruning or SPJ grouping that loses/duplicates a row
    *     poisons them);
    *   - the connector planner's own verdicts as flags: a bucket
    *     point probe plans exactly the probe bucket's files, a days
    *     point probe plans one day, a days range probe plans exactly
    *     the in-range days (strict bounds tightened), each strictly
    *     fewer than the full file list;
    *   - `spj_no_shuffle`: the bucket-co-partitioned SortMergeJoin
    *     planned with NO Exchange on either side, resolved through
    *     the catalog's empty-namespace `bucket` function. */
  def transformPartitioning(spark: SparkSession, sfDir: String): DataFrame = {
    val g = tag(sfDir)
    val dayMs = 86400000L
    val b = catalogTable(spark, "txf", "ord_b", sfDir,
      "(okey BIGINT, price_c BIGINT) PARTITIONED BY (bucket(8, okey))")
    val tb = b.name
    val tb2 = catalogTable(spark, "txf", "ord_b2", sfDir,
      "(okey2 BIGINT, price2_c BIGINT) PARTITIONED BY (bucket(8, okey2))").name
    val d = catalogTable(spark, "txf", "ord_d", sfDir,
      "(okey BIGINT, ts BIGINT, price_c BIGINT) PARTITIONED BY (days(ts))")
    val td = d.name
    graft.io.Tables.orders(spark, sfDir).selectExpr(
        "CAST(o_orderkey AS BIGINT) AS okey",
        "CAST(round(o_totalprice * 100) AS BIGINT) AS price_c",
        s"(CAST(o_orderkey AS BIGINT) % 7) * $dayMs + " +
          "(CAST(o_orderkey AS BIGINT) % 86400) * 1000 AS ts")
      .createOrReplaceTempView(s"txf_ord_$g")
    spark.sql(s"INSERT INTO $tb SELECT okey, price_c FROM txf_ord_$g")
    spark.sql(s"INSERT INTO $tb2 SELECT okey, price_c FROM txf_ord_$g")
    spark.sql(s"INSERT INTO $td SELECT okey, ts, price_c FROM txf_ord_$g")

    def tupleFiles(dir: java.nio.file.Path, want: Set[String]): Int =
      LedgerSink.readManifest(dir).get.files
        .count(_.partVals.exists(v => want(v.head)))
    val (dirB, dirD) = (b.root, d.root)
    val totalB = LedgerSink.readManifest(dirB).get.files.length
    val totalD = LedgerSink.readManifest(dirD).get.files.length
    // bucket point probe: okey = 7 → bucket 7 only. okey is ALSO the
    // stats column, so the expected set composes BOTH prunings: the
    // matching bucket tuple AND a [min,max] range covering the key —
    // the planner must admit exactly that set, no more, no less
    val pB = plannedFiles(dirB, Array(EqualTo("okey", 7L)))
    val wantB = LedgerSink.readManifest(dirB).get.files.count(e =>
      e.partVals.exists(_.head == "7") &&
        e.min.exists(_ <= 7L) && e.max.exists(_ >= 7L))
    val bktExact = pB == wantB && pB < totalB
    // days point probe: ts inside day 3 → day-3 files only
    val pDEq = plannedFiles(dirD, Array(EqualTo("ts", 3 * dayMs + 12345L)))
    val dEqExact = pDEq == tupleFiles(dirD, Set("3")) && pDEq < totalD
    // days range probe: [day2, day4) → exactly days 2..3
    val pDR = plannedFiles(dirD, Array(
      GreaterThanOrEqual("ts", 2 * dayMs), LessThan("ts", 4 * dayMs)))
    val dRngExact = pDR == tupleFiles(dirD, Set("2", "3")) && pDR < totalD

    // SPJ over bucket co-partitioning: force the join shape (no
    // broadcast) so the verdict is about partitioning, not size
    val confs = Seq(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1")
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val j = spark.table(tb).join(spark.table(tb2), expr("okey = okey2"))
      val spj = shuffleFreeSmj(j)
      val joinDigest = j.agg(count(lit(1)).as("n_join"),
        sum(col("price_c")).as("price_join"))
      val rngDigest = spark.sql(
        s"""SELECT count(*) AS n_rng, sum(price_c) AS price_rng,
              sum(okey) AS key_rng
            FROM $td WHERE ts >= ${2 * dayMs} AND ts < ${4 * dayMs}""")
      rngDigest.crossJoin(broadcast(joinDigest))
        .selectExpr("n_rng", "price_rng", "key_rng", "n_join", "price_join",
          flag("bkt_probe_exact", bktExact), flag("day_probe_exact", dEqExact),
          flag("day_range_exact", dRngExact), flag("spj_no_shuffle", spj))
    } finally prev.foreach { case (k, v) =>
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  val transformPartitioningOracle: String =
    """WITH o AS (SELECT CAST(o_orderkey AS BIGINT) AS okey,
           CAST(round(o_totalprice * 100) AS BIGINT) AS price_c,
           (CAST(o_orderkey AS BIGINT) % 7) * 86400000 +
             (CAST(o_orderkey AS BIGINT) % 86400) * 1000 AS ts
         FROM orders),
        rng AS (SELECT count(*) AS n_rng,
            CAST(sum(price_c) AS BIGINT) AS price_rng,
            CAST(sum(okey) AS BIGINT) AS key_rng
          FROM o WHERE ts >= 172800000 AND ts < 345600000),
        j AS (SELECT count(*) AS n_join,
            CAST(sum(a.price_c) AS BIGINT) AS price_join
          FROM o a JOIN o b ON a.okey = b.okey)
       SELECT n_rng, price_rng, key_rng, n_join, price_join,
         CAST(1 AS INTEGER) AS bkt_probe_exact,
         CAST(1 AS INTEGER) AS day_probe_exact,
         CAST(1 AS INTEGER) AS day_range_exact,
         CAST(1 AS INTEGER) AS spj_no_shuffle
       FROM rng CROSS JOIN j"""

  /** `dsv2_mor_delete`: merge-on-read DELETE via deletion vectors —
    * the modern Iceberg v2 / Delta DV design, and at 100 TB the
    * difference between O(rows deleted) and O(files touched): the
    * DELETE writes position-delete sidecars and one manifest swap, no
    * data file is rewritten. The hashed row folds together the
    * post-delete scan digest (the reader MERGES the DVs — a skipped
    * or extra ordinal poisons the sums), the returned delete count,
    * time travel to the pre-delete version (sidecars don't rewrite
    * history), the DV-present/DV-cleared planner facts around an
    * OPTIMIZE (which rewrites the vectors away), and the
    * post-OPTIMIZE digest (the rewrite drops exactly the deleted
    * lines). DuckDB recomputes every digest from the fixture with the
    * same predicate. */
  def morDelete(spark: SparkSession, sfDir: String): DataFrame = {
    val t = scratch(spark, "mor", sfDir)
    t.write(graft.io.Tables.orders(spark, sfDir).selectExpr(
        "CAST(o_orderkey AS BIGINT) AS okey",
        "CAST(round(o_totalprice * 100) AS BIGINT) AS price_c"), "overwrite") // v1
    val nDel = LedgerMaintenance.deleteMoR(spark, t.dir,
      Array(LessThan("price_c", 10000000L)))                             // v2
    val dvPresent = LedgerSink.readManifest(t.root).get.files.exists(_.dv.nonEmpty)
    // the "live" digest reads versionAsOf=2 — the DV-carrying snapshot
    // — NOT the head: DataFrames are lazy, and a head read would
    // execute after the OPTIMIZE below, silently planning against the
    // compacted (DV-free) manifest and making opt_intact tautological.
    // Pinning v2 forces the scan to MERGE the deletion vectors, so a
    // skipped or extra ordinal in fileRows poisons these sums.
    val live = digest(t.read("versionAsOf" -> "2"), "live",
      "price_c" -> "price", "okey" -> "key")
    val tt = digest(t.read("versionAsOf" -> "1"), "v1",
      "price_c" -> "price", "okey" -> "key")
    LedgerMaintenance.optimize(spark, t.dir): Unit                       // v3
    val dvCleared = LedgerSink.readManifest(t.root).get.files.forall(_.dv.isEmpty)
    val opt = digest(t.read(), "opt", "price_c" -> "price", "okey" -> "key")
    live.crossJoin(broadcast(tt)).crossJoin(broadcast(opt))
      .selectExpr(longCol("n_deleted", nDel),
        "n_live", "price_live", "key_live",
        "n_v1", "price_v1", "key_v1",
        flag("dv_present", dvPresent), flag("dv_cleared", dvCleared),
        "CAST(CASE WHEN n_opt = n_live AND price_opt = price_live " +
          "AND key_opt = key_live THEN 1 ELSE 0 END AS INT) AS opt_intact")
  }

  val morDeleteOracle: String =
    """WITH o AS (SELECT CAST(o_orderkey AS BIGINT) AS okey,
           CAST(round(o_totalprice * 100) AS BIGINT) AS price_c
         FROM orders),
        del AS (SELECT count(*) AS n_deleted FROM o WHERE price_c < 10000000),
        live AS (SELECT count(*) AS n_live,
            CAST(sum(price_c) AS BIGINT) AS price_live,
            CAST(sum(okey) AS BIGINT) AS key_live
          FROM o WHERE price_c >= 10000000),
        v1 AS (SELECT count(*) AS n_v1,
            CAST(sum(price_c) AS BIGINT) AS price_v1,
            CAST(sum(okey) AS BIGINT) AS key_v1 FROM o)
       SELECT CAST(n_deleted AS BIGINT) AS n_deleted,
         n_live, price_live, key_live, n_v1, price_v1, key_v1,
         CAST(1 AS INTEGER) AS dv_present,
         CAST(1 AS INTEGER) AS dv_cleared,
         CAST(1 AS INTEGER) AS opt_intact
       FROM del CROSS JOIN live CROSS JOIN v1"""

  /** `dsv2_mor_update`: merge-on-read UPDATE — ONE commit carrying the
    * deletion vectors that kill the matched rows in place AND the
    * appended files holding their updated versions (the Delta
    * DV-update design; no touched file is rewritten). The hashed row
    * folds the post-update scan digest (DuckDB replays the SET
    * arithmetic with a CASE expression), the matched count, the
    * one-commit fact (version advanced exactly once), time travel to
    * the pre-update state, and the change feed's per-type counts for
    * the commit (every matched row appears exactly once as delete(old)
    * and once as insert(new) — the multiset diff pairs them). */
  def morUpdate(spark: SparkSession, sfDir: String): DataFrame = {
    val t = scratch(spark, "moru", sfDir)
    t.write(graft.io.Tables.orders(spark, sfDir).selectExpr(
        "CAST(o_orderkey AS BIGINT) AS okey",
        "CAST(round(o_totalprice * 100) AS BIGINT) AS price_c"), "overwrite") // v1
    val nUpd = LedgerMaintenance.updateMoR(spark, t.dir,
      Array(LessThan("price_c", 10000000L)),
      Map("price_c" -> "price_c + 111"))                                 // v2
    val oneCommit = LedgerSink.currentVersion(t.root) == 2
    val live = digest(t.read(), "live", "price_c" -> "price", "okey" -> "key")
    val tt = digest(t.read("versionAsOf" -> "1"), "v1", "price_c" -> "price")
    val feed = t.read("readChangeFeed" -> "true",
        "changesFromVersion" -> "1", "changesToVersion" -> "2")
      .selectExpr(
        "sum(CASE WHEN _change_type = 'insert' THEN 1 ELSE 0 END) AS n_ins",
        "sum(CASE WHEN _change_type = 'delete' THEN 1 ELSE 0 END) AS n_del",
        "sum(CASE WHEN _change_type = 'insert' THEN price_c ELSE 0 END)" +
          " AS price_ins",
        "sum(CASE WHEN _change_type = 'delete' THEN price_c ELSE 0 END)" +
          " AS price_del")
    live.crossJoin(broadcast(tt)).crossJoin(broadcast(feed))
      .selectExpr(longCol("n_updated", nUpd),
        "n_live", "price_live", "key_live", "n_v1", "price_v1",
        "n_ins", "n_del", "price_ins", "price_del",
        flag("one_commit", oneCommit))
  }

  val morUpdateOracle: String =
    """WITH o AS (SELECT CAST(o_orderkey AS BIGINT) AS okey,
           CAST(round(o_totalprice * 100) AS BIGINT) AS price_c
         FROM orders),
        hit AS (SELECT * FROM o WHERE price_c < 10000000)
       SELECT
         CAST((SELECT count(*) FROM hit) AS BIGINT) AS n_updated,
         (SELECT count(*) FROM o) AS n_live,
         CAST((SELECT sum(CASE WHEN price_c < 10000000
             THEN price_c + 111 ELSE price_c END) FROM o) AS BIGINT)
           AS price_live,
         CAST((SELECT sum(okey) FROM o) AS BIGINT) AS key_live,
         (SELECT count(*) FROM o) AS n_v1,
         CAST((SELECT sum(price_c) FROM o) AS BIGINT) AS price_v1,
         CAST((SELECT count(*) FROM hit) AS BIGINT) AS n_ins,
         CAST((SELECT count(*) FROM hit) AS BIGINT) AS n_del,
         CAST(coalesce((SELECT sum(price_c + 111) FROM hit), 0) AS BIGINT)
           AS price_ins,
         CAST(coalesce((SELECT sum(price_c) FROM hit), 0) AS BIGINT)
           AS price_del,
         CAST(1 AS INTEGER) AS one_commit"""

  /** `dsv2_cdc_row_level`: the row-level CHANGE FEED through a
    * copy-on-write MERGE — the Delta CDF contract the append-only CDC
    * read honestly refuses. A catalog table takes customers (v2), a
    * MERGE updates every k%10=0 balance and inserts shifted k%13=0
    * rows (v3), and the feed for v2..v3 must emit EXACTLY the updated
    * rows as delete(old)+insert(new) pairs plus the inserted rows —
    * surviving rows of the rewritten files cancel in the multiset
    * diff. The output folds the per-type digests (DuckDB replays the
    * MERGE arithmetic from the fixture) with the reconstruction
    * verdict: pre-state ∪ inserts ∖ deletes must equal the post-state
    * exactly (exceptAll — multiset semantics). */
  def cdcRowLevel(spark: SparkSession, sfDir: String): DataFrame = {
    val g = tag(sfDir)
    val ct = catalogTable(spark, "cdf", "cust", sfDir, "(k BIGINT, bal BIGINT)") // v1
    val t = ct.name
    graft.io.Tables.customer(spark, sfDir).selectExpr(
        "CAST(c_custkey AS BIGINT) AS k",
        "CAST(round(c_acctbal * 100) AS BIGINT) AS bal")
      .createOrReplaceTempView(s"cdf_cust_$g")
    spark.sql(s"INSERT INTO $t SELECT k, bal FROM cdf_cust_$g")       // v2
    spark.sql(
      s"""MERGE INTO $t dst USING (
            SELECT k, bal + 7777 AS nb FROM cdf_cust_$g WHERE k % 10 = 0
            UNION ALL
            SELECT k + 100000000, bal FROM cdf_cust_$g WHERE k % 13 = 0
          ) src ON dst.k = src.k
          WHEN MATCHED THEN UPDATE SET bal = src.nb
          WHEN NOT MATCHED THEN INSERT (k, bal) VALUES (src.k, src.nb)""") // v3
    val feed = ct.read("readChangeFeed" -> "true",
      "changesFromVersion" -> "2", "changesToVersion" -> "3")
    feed.createOrReplaceTempView(s"cdf_feed_$g")
    val byType = spark.sql(
      s"""SELECT
            sum(CASE WHEN _change_type = 'insert' THEN 1 ELSE 0 END) AS n_ins,
            sum(CASE WHEN _change_type = 'delete' THEN 1 ELSE 0 END) AS n_del,
            sum(CASE WHEN _change_type = 'insert' THEN k ELSE 0 END) AS k_ins,
            sum(CASE WHEN _change_type = 'delete' THEN k ELSE 0 END) AS k_del,
            sum(CASE WHEN _change_type = 'insert' THEN bal ELSE 0 END) AS bal_ins,
            sum(CASE WHEN _change_type = 'delete' THEN bal ELSE 0 END) AS bal_del
          FROM cdf_feed_$g""")
    val pre = spark.sql(s"SELECT k, bal FROM $t VERSION AS OF 2")
    val post = spark.sql(s"SELECT k, bal FROM $t VERSION AS OF 3")
    val reconstructed = pre
      .unionByName(feed.filter("_change_type = 'insert'").select("k", "bal"))
      .exceptAll(feed.filter("_change_type = 'delete'").select("k", "bal"))
    val ok = reconstructed.exceptAll(post).isEmpty &&
      post.exceptAll(reconstructed).isEmpty
    byType.selectExpr("n_ins", "n_del", "k_ins", "k_del",
      "bal_ins", "bal_del", flag("reconstructs", ok))
  }

  val cdcRowLevelOracle: String =
    """WITH c AS (SELECT CAST(c_custkey AS BIGINT) AS k,
           CAST(round(c_acctbal * 100) AS BIGINT) AS bal
         FROM customer),
        upd AS (SELECT k, bal FROM c WHERE k % 10 = 0),
        ins AS (SELECT k + 100000000 AS k, bal FROM c WHERE k % 13 = 0)
       SELECT
         CAST((SELECT count(*) FROM upd) + (SELECT count(*) FROM ins)
           AS BIGINT) AS n_ins,
         CAST((SELECT count(*) FROM upd) AS BIGINT) AS n_del,
         CAST(coalesce((SELECT sum(k) FROM upd), 0)
           + coalesce((SELECT sum(k) FROM ins), 0) AS BIGINT) AS k_ins,
         CAST(coalesce((SELECT sum(k) FROM upd), 0) AS BIGINT) AS k_del,
         CAST(coalesce((SELECT sum(bal + 7777) FROM upd), 0)
           + coalesce((SELECT sum(bal) FROM ins), 0) AS BIGINT) AS bal_ins,
         CAST(coalesce((SELECT sum(bal) FROM upd), 0) AS BIGINT) AS bal_del,
         CAST(1 AS INTEGER) AS reconstructs"""

  /** `dsv2_cdf_stream_replication`: the STREAMING change feed —
    * `readChangeFeed=true` with no version range streams row-level
    * diffs, versions as offsets (Delta's CDF-streaming contract).
    * Source lineage: full load (v1), a MoR DELETE via deletion
    * vectors (v2), an append (v3) — drained once through the
    * epoch-committing ledger sink — then a MoR UPDATE (v4) lands and
    * a SECOND drain resumes from the checkpoint, so the destination
    * must hold v1/v3 inserts, v2 deletes, and v4's delete+insert
    * pairs EXACTLY ONCE each. The destination digest (per change
    * type: count, key sum, balance sum) is recomputed by DuckDB from
    * the fixture — a replayed version, a missed DV diff, or a lost
    * resume delta each poison a sum. */
  def cdfStreamReplication(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    val src = scratch(spark, "cdfr_src", sfDir)
    val dst = scratch(spark, "cdfr_dst", sfDir)
    val ckpt = scratch(spark, "cdfr_ckpt", sfDir).dir
    val cust = graft.io.Tables.customer(spark, sfDir).selectExpr(
      "CAST(c_custkey AS BIGINT) AS k",
      "CAST(round(c_acctbal * 100) AS BIGINT) AS bal")
    src.write(cust, "overwrite")                                    // v1
    LedgerMaintenance.deleteMoR(spark, src.dir,
      Array(LessThan("bal", 100000L))): Unit                        // v2
    src.write(cust.filter(col("k") % 5 === 0)
      .selectExpr("k + 100000000 AS k", "bal"), "append")           // v3
    def drain(): Unit = {
      val q = src.readStream("readChangeFeed" -> "true")
        .writeStream.format(ledger).option("path", dst.dir)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    drain()
    LedgerMaintenance.updateMoR(spark, src.dir,
      Array(GreaterThanOrEqual("bal", 100000L)),
      Map("bal" -> "bal + 7")): Unit                                // v4
    drain()
    dst.read()
      .groupBy(col("_change_type"))
      .agg(count(lit(1)).as("n"), sum(col("k")).as("k_sum"),
        sum(col("bal")).as("bal_sum"))
      .selectExpr("_change_type AS change_type", "n", "k_sum", "bal_sum")
      .orderBy("change_type")
  }

  val cdfStreamReplicationOracle: String =
    """WITH c AS (SELECT CAST(c_custkey AS BIGINT) AS k,
           CAST(round(c_acctbal * 100) AS BIGINT) AS bal
         FROM customer),
        app AS (SELECT k + 100000000 AS k, bal FROM c WHERE k % 5 = 0),
        hit AS (SELECT k, bal FROM c WHERE bal >= 100000
                UNION ALL
                SELECT k, bal FROM app WHERE bal >= 100000),
        ins AS (SELECT k, bal FROM c
                UNION ALL SELECT k, bal FROM app
                UNION ALL SELECT k, bal + 7 FROM hit),
        del AS (SELECT k, bal FROM c WHERE bal < 100000
                UNION ALL SELECT k, bal FROM hit)
       SELECT 'delete' AS change_type, count(*) AS n,
         CAST(sum(k) AS BIGINT) AS k_sum, CAST(sum(bal) AS BIGINT) AS bal_sum
       FROM del
       UNION ALL
       SELECT 'insert', count(*), CAST(sum(k) AS BIGINT),
         CAST(sum(bal) AS BIGINT)
       FROM ins
       ORDER BY change_type"""

  val streamReplicationOracle: String =
    """WITH src AS (
         SELECT CAST(c_custkey AS BIGINT) AS k, c_mktsegment AS seg,
                CAST(round(c_acctbal * 100) AS BIGINT) AS bal
         FROM customer
         UNION ALL
         SELECT CAST(c_custkey + 1000000 AS BIGINT), c_mktsegment,
                CAST(round(c_acctbal * 100) AS BIGINT)
         FROM customer WHERE c_custkey % 7 = 0)
       SELECT seg AS c_mktsegment, count(*) AS n,
         CAST(sum(bal) AS BIGINT) AS bal_sum,
         CAST(sum(k) AS BIGINT) AS key_sum
       FROM src GROUP BY seg ORDER BY seg"""

  /** `dsv2_agg_pushdown_ledger`: metadata-only aggregation
    * ([[LedgerScanBuilder.pushAggregation]]) — COUNT(*)/MIN/MAX
    * grouped by an identity partition column are answered from the
    * manifest (exact per-file row counts and true [min,max] stats)
    * with ZERO data I/O; at 100 TB a table profile costs a driver
    * metadata read instead of a full scan. The hashed row folds:
    *   - the grouped profile digest (DuckDB recomputes it from the
    *     fixture — a wrong manifest stat or a missed file breaks it);
    *   - `grouped_pushed`: the plan verdict that the grouped query
    *     used the pushed-aggregation scan;
    *   - `count_pushed_dv` + the post-delete count: after a
    *     merge-on-read DELETE, COUNT(*) stays metadata-answerable
    *     (sidecar ordinal counts are committed metadata) and exact;
    *   - `minmax_refused` + the post-delete min: MIN/MAX under a
    *     deletion vector REFUSE the metadata path (the deleted row
    *     may have held the extreme) and fall back to a real scan —
    *     the honesty boundary, folded as a fact, not a comment. */
  def aggPushdown(spark: SparkSession, sfDir: String): DataFrame = {
    val t = scratch(spark, "aggp", sfDir)
    graft.io.Tables.customer(spark, sfDir).selectExpr(
        "CAST(c_custkey AS BIGINT) AS ckey",
        "CAST(round(c_acctbal * 100) AS BIGINT) AS bal_c",
        "CAST(c_nationkey AS BIGINT) AS nk")
      .write.format(ledger).option("path", t.dir)
      .partitionBy("nk").mode("overwrite").save()                      // v1
    def pushedPlan(df: DataFrame): Boolean =
      df.queryExecution.executedPlan.toString.contains("graft-ledger-agg")
    // pinned to v1: the final output plan re-plans this relation AFTER
    // the deleteMoR below, and an unpinned read would then see the
    // DV-carrying manifest (refusing min/max pushdown and changing the
    // digest). Version pinning keeps the grouped profile the full
    // pre-delete table — and proves pushdown works through time travel.
    val grouped = t.read("versionAsOf" -> "1")
      .groupBy("nk").agg(count(lit(1)).as("n"),
        min("ckey").as("key_lo"), max("ckey").as("key_hi"))
    val groupedPushed = pushedPlan(grouped)
    // merge-on-read delete, then the DV-honesty pair
    val nDel = LedgerMaintenance.deleteMoR(spark, t.dir,
      Array(LessThan("bal_c", 0L)))                                    // v2
    val cnt = t.read().selectExpr("count(*) AS n_after_del")
    val cntPushed = pushedPlan(cnt)
    val mn = t.read().selectExpr("min(ckey) AS key_lo_after_del")
    val minRefused = !pushedPlan(mn)
    grouped
      .crossJoin(broadcast(cnt)).crossJoin(broadcast(mn))
      .selectExpr("nk", "n", "key_lo", "key_hi",
        "n_after_del", "key_lo_after_del", longCol("n_deleted", nDel),
        flag("grouped_pushed", groupedPushed),
        flag("count_pushed_dv", cntPushed), flag("minmax_refused", minRefused))
      .orderBy("nk")
  }

  /** `dedup_kill_list_mor`: the end-to-end shape a real 100 TB
    * curation pipeline has — dedup produces a KILL LIST, and the kill
    * list is applied to the governed corpus table as a MERGE-ON-READ
    * DELETE: `DELETE FROM corpus WHERE doc_id IN (<kill subquery>)`
    * under `graft.ledger.rowLevelMode=mor` plans a WriteDelta whose
    * commit installs deletion vectors only — O(rows killed), zero
    * files rewritten, one atomic version. Subquery predicates are
    * exactly what the filter-ADT `deleteMoR` cannot express and the
    * SupportsDelta path handles for free (Spark rewrites the IN into
    * a join against the scan). Kill rule = the normalized-PREFIX
    * fingerprint (md5 of the first 64 chars of
    * [[graft.llm.Dedup.normExpr]]'s normalization — the fixture's
    * near-dup clusters share prefixes; full-text fingerprints find
    * nothing because the corpus has no byte-exact dupes), keep min
    * doc_id per cluster; DuckDB replays it relationally. Folded verdicts:
    * `files_preserved`, `dv_present`, `one_commit`. */
  def dedupKillListMoR(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.llm.Gen.SparkD
    val g = tag(sfDir)
    val ct = catalogTable(spark, "rlo", "corpus", sfDir,
      "(doc_id BIGINT, fp STRING, n_chars BIGINT)" +
        " TBLPROPERTIES ('graft.ledger.rowLevelMode'='mor')")
    val (t, tDir) = (ct.name, ct.root)
    graft.io.Tables.documents(spark, sfDir)
      .selectExpr("doc_id",
        s"md5(substr(${graft.llm.Dedup.normExpr(SparkD)}, 1, 64)) AS fp",
        "n_chars")
      .createOrReplaceTempView(s"kl_docs_$g")
    spark.sql(s"INSERT INTO $t SELECT doc_id, fp, n_chars FROM kl_docs_$g")
    val pre = LedgerSink.readManifest(tDir).get.files.map(_.file).toSet
    val preVersion = LedgerSink.currentVersion(tDir)
    spark.sql(
      s"""DELETE FROM $t WHERE doc_id IN (
            SELECT doc_id FROM (
              SELECT doc_id, min(doc_id) OVER (PARTITION BY fp) AS keep
              FROM kl_docs_$g) WHERE doc_id <> keep)""")
    val post = LedgerSink.readManifest(tDir).get
    val preserved = post.files.map(_.file).toSet == pre
    val dvPresent = post.files.exists(_.dv.nonEmpty)
    val oneCommit = LedgerSink.currentVersion(tDir) == preVersion + 1
    spark.sql(s"SELECT count(*) AS n_docs, sum(doc_id) AS id_sum," +
      s" sum(n_chars) AS chars_sum," +
      s" count(DISTINCT fp) AS n_fps," +
      s" ${flag("files_preserved", preserved)}," +
      s" ${flag("dv_present", dvPresent)}," +
      s" ${flag("one_commit", oneCommit)} FROM $t")
  }

  def dedupKillListMoROracle: String = {
    import graft.llm.Gen.DuckD
    s"""WITH d AS (SELECT doc_id,
           md5(substr(${graft.llm.Dedup.normExpr(DuckD)}, 1, 64)) AS fp,
           n_chars
         FROM documents),
        keep AS (SELECT doc_id, fp, n_chars,
            min(doc_id) OVER (PARTITION BY fp) AS canon
          FROM d)
       SELECT count(*) AS n_docs,
         CAST(sum(doc_id) AS BIGINT) AS id_sum,
         CAST(sum(n_chars) AS BIGINT) AS chars_sum,
         count(DISTINCT fp) AS n_fps,
         CAST(1 AS INTEGER) AS files_preserved,
         CAST(1 AS INTEGER) AS dv_present,
         CAST(1 AS INTEGER) AS one_commit
       FROM keep WHERE doc_id = canon"""
  }

  /** The upsert streams' source: three versions, one micro-batch each
    * — every customer, then re-valued k%3 keys, then re-valued k%5 keys
    * plus shifted k%11 inserts, each row stamped with its version `v`.
    * Returns the customer projection it was cut from. */
  private def upsertBatches(spark: SparkSession, sfDir: String,
      src: PathTable): DataFrame = {
    val cust = graft.io.Tables.customer(spark, sfDir).selectExpr(
      "CAST(c_custkey AS BIGINT) AS ckey",
      "CAST(round(c_acctbal * 100) AS BIGINT) AS bal_c")
    src.write(cust.selectExpr("ckey", "bal_c AS val", "CAST(1 AS BIGINT) AS v")
      .coalesce(1), "overwrite")                                      // v1
    src.write(cust.filter("ckey % 3 = 0")
      .selectExpr("ckey", "bal_c + 100000 AS val", "CAST(2 AS BIGINT) AS v")
      .coalesce(1), "append")                                         // v2
    src.write(cust.filter("ckey % 5 = 0")
      .selectExpr("ckey", "bal_c + 900000 AS val", "CAST(3 AS BIGINT) AS v")
      .unionByName(cust.filter("ckey % 11 = 0").selectExpr(
        "ckey + 10000000 AS ckey", "CAST(555 AS BIGINT) AS val",
        "CAST(3 AS BIGINT) AS v"))
      .coalesce(1), "append")                                         // v3
    cust
  }

  /** `dsv2_stream_upsert`: the canonical streaming-upsert pattern
    * (Delta's `foreachBatch` + MERGE): a ledger STREAM (versions as
    * offsets, one version per micro-batch via `maxFilesPerTrigger=1`
    * and versions-indivisible admission) drives per-batch SQL MERGE
    * INTO a catalog table running in merge-on-read mode — each batch
    * lands as ONE delta commit of deletion vectors + appended files.
    * The batch body dedups to the latest row per key (arg-max by
    * change version) so the final state is batching-independent:
    * last-writer-wins per key, which DuckDB replays with a CASE over
    * the three change sets. Folded verdicts: `mor_dvs` (the upserts
    * installed deletion vectors — the MoR path really ran) and
    * `base_files_kept` (the initial batch's data files were never
    * rewritten by later batches). */
  def streamUpsert(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    val g = tag(sfDir)
    val src = scratch(spark, "upsrc", sfDir)
    val ct = catalogTable(spark, "rlo", "stream_upsert", sfDir,
      "(ckey BIGINT, val BIGINT)" +
        " TBLPROPERTIES ('graft.ledger.rowLevelMode'='mor')")
    val (t, tDir) = (ct.name, ct.root)
    upsertBatches(spark, sfDir, src): Unit
    val ckpt = s"${src.dir}/_checkpoint"
    val baseFiles = scala.collection.mutable.Set.empty[String]
    val q = src.readStream("maxFilesPerTrigger" -> "1")
      .writeStream.option("checkpointLocation", ckpt)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        batch.createOrReplaceTempView(s"up_batch_$g")
        batch.sparkSession.sql(
          s"""MERGE INTO $t AS tgt USING (
                SELECT ckey, val FROM (
                  SELECT ckey, val,
                    row_number() OVER (PARTITION BY ckey
                      ORDER BY v DESC) AS rn
                  FROM up_batch_$g) WHERE rn = 1) AS src
              ON tgt.ckey = src.ckey
              WHEN MATCHED THEN UPDATE SET val = src.val
              WHEN NOT MATCHED THEN INSERT (ckey, val)
                VALUES (src.ckey, src.val)""")
        if (baseFiles.isEmpty)
          baseFiles ++= LedgerSink.readManifest(tDir).get.files.map(_.file)
        (): Unit
      }
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val post = LedgerSink.readManifest(tDir).get
    val morDvs = post.files.exists(_.dv.nonEmpty)
    val baseKept = baseFiles.toSet.subsetOf(post.files.map(_.file).toSet)
    spark.sql(s"SELECT count(*) AS n_rows, sum(val) AS val_sum," +
      s" sum(ckey) AS key_sum, ${flag("mor_dvs", morDvs)}," +
      s" ${flag("base_files_kept", baseKept)} FROM $t")
  }

  val streamUpsertOracle: String =
    """WITH c AS (SELECT CAST(c_custkey AS BIGINT) AS ckey,
           CAST(round(c_acctbal * 100) AS BIGINT) AS bal_c
         FROM customer),
        finals AS (
          SELECT ckey,
            CASE WHEN ckey % 5 = 0 THEN bal_c + 900000
                 WHEN ckey % 3 = 0 THEN bal_c + 100000
                 ELSE bal_c END AS val
          FROM c
          UNION ALL
          SELECT ckey + 10000000, CAST(555 AS BIGINT)
          FROM c WHERE ckey % 11 = 0)
       SELECT count(*) AS n_rows,
         CAST(sum(val) AS BIGINT) AS val_sum,
         CAST(sum(ckey) AS BIGINT) AS key_sum,
         CAST(1 AS INTEGER) AS mor_dvs,
         CAST(1 AS INTEGER) AS base_files_kept
       FROM finals"""

  /** `dsv2_stream_equality_upsert`: the O(batch) streaming-CDC apply —
    * the same three-version upsert stream as `dsv2_stream_upsert`, but
    * each micro-batch lands through
    * [[LedgerMaintenance.upsertByKeys]]: ONE commit of an equality
    * delete on the batch keys + the appended batch, reading ZERO
    * target data files (the MoR MERGE variant must still SCAN the
    * target to locate matched rows; at 100 TB this variant's per-batch
    * cost is O(batch) flat). The pattern is replay-idempotent by
    * construction: re-running a batch's upsert deletes the previous
    * copy (smaller data sequence) and appends one fresh copy. Folded
    * verdicts: one commit per batch (version arithmetic), no file
    * ever rewritten (every version's file set contains its
    * predecessor's), equality deletes active after the drain, and
    * OPTIMIZE materializing them without changing the digest. */
  def streamEqualityUpsert(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    val src = scratch(spark, "equpsrc", sfDir)
    val tgt = scratch(spark, "equptgt", sfDir)
    val tDir = tgt.dir
    val cust = upsertBatches(spark, sfDir, src)
    // empty target: schema-only manifest (version 1)
    tgt.write(cust.limit(0).selectExpr("ckey", "bal_c AS val"), "overwrite")
    val ckpt = s"${src.dir}/_checkpoint_eq"
    val q = src.readStream("maxFilesPerTrigger" -> "1")
      .writeStream.option("checkpointLocation", ckpt)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // last image per key within the batch, then one-commit upsert
        val latest = batch
          .withColumn("rn", org.apache.spark.sql.functions.row_number()
            .over(org.apache.spark.sql.expressions.Window
              .partitionBy("ckey")
              .orderBy(org.apache.spark.sql.functions.col("v").desc)))
          .filter("rn = 1").selectExpr("ckey", "val")
        LedgerMaintenance.upsertByKeys(batch.sparkSession,
          tDir, Seq("ckey"), latest): Unit
      }
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val root = tgt.root
    val cur = LedgerSink.currentVersion(root)
    val oneCommitPerBatch = cur == 4  // create + 3 batches
    val noRewrites = (2 to cur).forall { v =>
      LedgerSink.readManifestAt(root, Some(v - 1)).get.files.map(_.file)
        .toSet.subsetOf(
          LedgerSink.readManifestAt(root, Some(v)).get.files.map(_.file).toSet)
    }
    val eqdActive = LedgerSink.readManifest(root).get.eqDeletes.nonEmpty
    def liveRow() =
      digest(tgt.read(), "live", "val" -> "val", "ckey" -> "key").collect()(0)
    val pre = liveRow()
    LedgerMaintenance.optimize(spark, tDir): Unit
    val m2 = LedgerSink.readManifest(root).get
    val optimizedClean = liveRow() == pre && m2.eqDeletes.isEmpty &&
      m2.files.map(_.rows).sum == pre.getLong(0)
    spark.sql("SELECT " + (longCols(pre, "n_rows", "val_sum", "key_sum") ++ Seq(
      flag("one_commit_per_batch", oneCommitPerBatch),
      flag("no_rewrites", noRewrites), flag("eqd_active", eqdActive),
      flag("optimized_clean", optimizedClean))).mkString(", "))
  }

  val streamEqualityUpsertOracle: String =
    """WITH c AS (SELECT CAST(c_custkey AS BIGINT) AS ckey,
           CAST(round(c_acctbal * 100) AS BIGINT) AS bal_c
         FROM customer),
        finals AS (
          SELECT ckey,
            CASE WHEN ckey % 5 = 0 THEN bal_c + 900000
                 WHEN ckey % 3 = 0 THEN bal_c + 100000
                 ELSE bal_c END AS val
          FROM c
          UNION ALL
          SELECT ckey + 10000000, CAST(555 AS BIGINT)
          FROM c WHERE ckey % 11 = 0)
       SELECT count(*) AS n_rows,
         CAST(sum(val) AS BIGINT) AS val_sum,
         CAST(sum(ckey) AS BIGINT) AS key_sum,
         CAST(1 AS INTEGER) AS one_commit_per_batch,
         CAST(1 AS INTEGER) AS no_rewrites,
         CAST(1 AS INTEGER) AS eqd_active,
         CAST(1 AS INTEGER) AS optimized_clean
       FROM finals"""

  /** `dsv2_bloom_skipping`: per-file bloom sidecars over the first
    * string column ([[LedgerSink.bloomColIndex]]) prune POINT
    * predicates that min/max stats cannot — `WHERE key = x` on an
    * unsorted high-cardinality key reads only the files whose bloom
    * may hold x (the Delta bloom-index / Iceberg puffin idea; at
    * 100 TB the difference between one file and all of them). Folded
    * verdicts: `probe_pruned` (an existing key's point probe plans
    * ≤ 1/4 of the files), `absent_zero` (an absent key plans ZERO
    * files), alongside the matching rows' digest which DuckDB
    * replays — correctness never depends on the bloom because every
    * filter stays residual. */
  def bloomSkipping(spark: SparkSession, sfDir: String): DataFrame = {
    val t = scratch(spark, "bloom", sfDir)
    t.write(graft.io.Tables.customer(spark, sfDir).selectExpr(
        "c_name AS name",
        "CAST(c_custkey AS BIGINT) AS ckey",
        "CAST(round(c_acctbal * 100) AS BIGINT) AS bal_c")
      .repartition(16), "overwrite")
    val probe = graft.io.Tables.customer(spark, sfDir)
      .agg(min("c_name")).head().getString(0)
    val total = LedgerSink.readManifest(t.root).get.files.length
    val hit = plannedFiles(t.root, Array(EqualTo("name", probe)))
    val miss = plannedFiles(t.root, Array(EqualTo("name", "zzz_no_such_customer")))
    t.read()
      .filter(col("name") === lit(probe))
      .agg(count(lit(1)).as("n_match"),
        sum(col("ckey")).as("key_sum"),
        sum(col("bal_c")).as("bal_sum"))
      .selectExpr("n_match", "key_sum", "bal_sum",
        flag("probe_pruned", hit * 4 <= total), flag("absent_zero", miss == 0))
  }

  val bloomSkippingOracle: String =
    """WITH c AS (SELECT c_name AS name,
           CAST(c_custkey AS BIGINT) AS ckey,
           CAST(round(c_acctbal * 100) AS BIGINT) AS bal_c
         FROM customer),
        probe AS (SELECT min(name) AS p FROM c)
       SELECT count(*) AS n_match,
         CAST(sum(ckey) AS BIGINT) AS key_sum,
         CAST(sum(bal_c) AS BIGINT) AS bal_sum,
         CAST(1 AS INTEGER) AS probe_pruned,
         CAST(1 AS INTEGER) AS absent_zero
       FROM c, probe WHERE name = p"""

  val aggPushdownOracle: String =
    """WITH c AS (SELECT CAST(c_custkey AS BIGINT) AS ckey,
           CAST(round(c_acctbal * 100) AS BIGINT) AS bal_c,
           CAST(c_nationkey AS BIGINT) AS nk
         FROM customer),
        live AS (SELECT * FROM c WHERE bal_c >= 0),
        del AS (SELECT count(*) AS n_deleted,
            (SELECT count(*) FROM live) AS n_after_del,
            (SELECT min(ckey) FROM live) AS key_lo_after_del
          FROM c WHERE bal_c < 0)
       SELECT nk, count(*) AS n, min(ckey) AS key_lo, max(ckey) AS key_hi,
         n_after_del, key_lo_after_del,
         CAST(n_deleted AS BIGINT) AS n_deleted,
         CAST(1 AS INTEGER) AS grouped_pushed,
         CAST(1 AS INTEGER) AS count_pushed_dv,
         CAST(1 AS INTEGER) AS minmax_refused
       FROM c CROSS JOIN del GROUP BY nk, n_after_del, key_lo_after_del,
         n_deleted
       ORDER BY nk"""

  /** `dsv2_restore_expire`: tags, RESTORE and snapshot expiration —
    * the metadata lifecycle ([[LedgerRefs]]). The lineage: v1 = all
    * customers, v2 = overwrite to the non-negative subset (tagged
    * `audit`), v3 = append the negatives back (row-set == v1's). Then
    * RESTORE to v2 (digest must equal the subset — DuckDB recomputes),
    * RESTORE forward to v3 (digest equals the full set — rollback is
    * not one-way), tag read == versionAsOf read, expire keepLast=1
    * (expires exactly v1: v3 is the newest archive after the first
    * restore... the flags pin the arithmetic), vacuum reclaims v1's
    * overwritten files (>0), the expired version fails fast, and
    * keepLast=0 is refused. */
  def restoreExpire(spark: SparkSession, sfDir: String): DataFrame = {
    val t = scratch(spark, "ref", sfDir)
    val root = t.root
    val base = graft.io.Tables.customer(spark, sfDir).selectExpr(
      "CAST(c_custkey AS BIGINT) AS ckey",
      "CAST(round(c_acctbal * 100) AS BIGINT) AS bal_c")
    t.write(base, "overwrite")                                        // v1
    t.write(base.where("bal_c >= 0"), "overwrite")                    // v2
    LedgerRefs.createTag(root, "audit"): Unit                        // → v2
    t.write(base.where("bal_c < 0"), "append")                        // v3
    val vRestore = LedgerRefs.restore(root, 2)                        // v4
    val balKey = Seq("bal_c" -> "bal", "ckey" -> "key")
    val restored = digest(t.read("versionAsOf" -> vRestore.toString), "r", balKey: _*)
    val tagRows = t.read("tagAsOf" -> "audit")
    val vAsOf2 = t.read("versionAsOf" -> "2")
    val tagMatches =
      tagRows.exceptAll(vAsOf2).isEmpty && vAsOf2.exceptAll(tagRows).isEmpty
    LedgerRefs.restore(root, 3): Unit                                 // v5
    val fwd = digest(t.read(), "f", balKey: _*)
    // protected: v4 (newest archive) + v2 (tag); v3's archive expires
    // with v1 — its row-set lives on as the current (v5) manifest
    val expiredOk = LedgerRefs.expireVersions(root, keepLast = 1) == Seq(1, 3)
    // In-flight-writer guard: a YOUNG unreferenced staged file is
    // exactly what a concurrent writer's pre-commit stage looks like
    // (files land in _staging BEFORE the commit lock); the default
    // vacuum horizon must keep it — and everything else here is
    // seconds old too, so the default-horizon call must reclaim
    // NOTHING. The explicit-0 call below is the single-writer
    // maintenance-window form that actually reclaims.
    val inflight = root.resolve("_staging")
      .resolve("inflight-part-0-99-0.ledger")
    java.nio.file.Files.write(inflight,
      "9999|9999|9999\n".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val youngStagedKept = LedgerSink.vacuum(root).isEmpty &&
      java.nio.file.Files.exists(inflight)
    val vacuumedGt0 = LedgerSink.vacuum(root, olderThanMillis = 0L).nonEmpty
    val expiredUnreadable =
      fails[IllegalArgumentException](t.read("versionAsOf" -> "1"))
    val keepGuard =
      fails[IllegalArgumentException](LedgerRefs.expireVersions(root, 0))
    // tagged v2 must still read exactly after expire+vacuum — its
    // archive was protected, so its files stayed referenced
    val tagAfter = digest(t.read("tagAsOf" -> "audit"), "t", balKey: _*)
    restored.crossJoin(broadcast(fwd)).crossJoin(broadcast(tagAfter))
      .selectExpr("n_r", "bal_r", "key_r", "n_f", "bal_f", "key_f",
        "n_t", "bal_t", "key_t", flag("tag_matches", tagMatches),
        flag("expired_ok", expiredOk), flag("young_staged_kept", youngStagedKept),
        flag("vacuumed_gt0", vacuumedGt0),
        flag("expired_unreadable", expiredUnreadable),
        flag("keeplast_guard", keepGuard))
  }

  val restoreExpireOracle: String =
    """WITH c AS (SELECT CAST(c_custkey AS BIGINT) AS ckey,
           CAST(round(c_acctbal * 100) AS BIGINT) AS bal_c
         FROM customer),
        pos AS (SELECT count(*) AS n_r,
            CAST(sum(bal_c) AS BIGINT) AS bal_r,
            CAST(sum(ckey) AS BIGINT) AS key_r
          FROM c WHERE bal_c >= 0),
        allr AS (SELECT count(*) AS n_f,
            CAST(sum(bal_c) AS BIGINT) AS bal_f,
            CAST(sum(ckey) AS BIGINT) AS key_f FROM c)
       SELECT n_r, bal_r, key_r, n_f, bal_f, key_f,
         n_r AS n_t, bal_r AS bal_t, key_r AS key_t,
         CAST(1 AS INTEGER) AS tag_matches,
         CAST(1 AS INTEGER) AS expired_ok,
         CAST(1 AS INTEGER) AS young_staged_kept,
         CAST(1 AS INTEGER) AS vacuumed_gt0,
         CAST(1 AS INTEGER) AS expired_unreadable,
         CAST(1 AS INTEGER) AS keeplast_guard
       FROM pos CROSS JOIN allr"""

  /** `dsv2_wap_publish`: write-audit-publish. Base table = high-price
    * orders; `df.write.option("wapId","w1")` stages the low-price
    * complement WITHOUT advancing the live table (flag: version
    * unchanged, live digest still the base — DuckDB recomputes both
    * sides); the `wapId` read audits base ∪ staged (digest = full
    * order set); vacuum-while-staged reclaims nothing (staged
    * manifests are references); publish folds exactly the staged
    * files in as ONE new version (digest = full set, version +1,
    * staged manifest gone); a second staged commit aborts cleanly
    * (live untouched, staged files deleted from disk). */
  def wapPublish(spark: SparkSession, sfDir: String): DataFrame = {
    val t = scratch(spark, "wap", sfDir)
    val root = t.root
    val all = graft.io.Tables.orders(spark, sfDir).selectExpr(
      "CAST(o_orderkey AS BIGINT) AS okey",
      "CAST(round(o_totalprice * 100) AS BIGINT) AS price_c")
    t.write(all.where("price_c >= 10000000"), "overwrite")            // v1
    val vBefore = LedgerSink.currentVersion(root)
    t.write(all.where("price_c < 10000000"), "append", "wapId" -> "w1")
    val stageNoVersion = LedgerSink.currentVersion(root) == vBefore
    // the live-while-staged and audit digests must be EAGER (collected
    // before publish) — a lazy plan would read the post-publish
    // manifest and make the stage-isolation check tautological
    val priceKey = Seq("price_c" -> "price", "okey" -> "key")
    val liveStaged = digest(t.read(), "base", priceKey: _*).collect()(0)
    val audit = digest(t.read("wapId" -> "w1"), "a", priceKey: _*).collect()(0)
    // horizon 0 so this pins REFERENCE protection (staged manifests
    // keep their files live), not the age guard
    val vacuumKeeps = LedgerSink.vacuum(root, olderThanMillis = 0L).isEmpty
    val vPub = LedgerRefs.publishWap(root, "w1")
    val pubDigest = digest(t.read(), "p", priceKey: _*)
    val wapGone = LedgerSink.listWaps(root).isEmpty
    // stage a second commit, then ABORT it: live untouched, its
    // staged files really deleted (vacuum finds nothing either)
    t.write(all.limit(100), "append", "wapId" -> "w2")
    val w2Files = LedgerSink.readWap(root, "w2")
      .props(LedgerSink.WapNewFilesProp).split(",").toSeq.filter(_.nonEmpty)
    LedgerRefs.abortWap(root, "w2")
    val abortClean = w2Files.nonEmpty && w2Files.forall(f =>
      !java.nio.file.Files.exists(root.resolve(f))) &&
      LedgerSink.listWaps(root).isEmpty && LedgerSink.currentVersion(root) == vPub
    pubDigest.selectExpr(
      longCols(liveStaged, "n_base", "price_base", "key_base") ++
      longCols(audit, "n_a", "price_a", "key_a") ++ Seq(
        "n_p", "price_p", "key_p", flag("stage_no_version", stageNoVersion),
        flag("vacuum_keeps_staged", vacuumKeeps),
        flag("publish_one_version", vPub == vBefore + 1),
        flag("wap_gone", wapGone), flag("abort_clean", abortClean)): _*)
  }

  val wapPublishOracle: String =
    """WITH o AS (SELECT CAST(o_orderkey AS BIGINT) AS okey,
           CAST(round(o_totalprice * 100) AS BIGINT) AS price_c
         FROM orders),
        hi AS (SELECT count(*) AS n_base,
            CAST(sum(price_c) AS BIGINT) AS price_base,
            CAST(sum(okey) AS BIGINT) AS key_base
          FROM o WHERE price_c >= 10000000),
        allr AS (SELECT count(*) AS n_a,
            CAST(sum(price_c) AS BIGINT) AS price_a,
            CAST(sum(okey) AS BIGINT) AS key_a FROM o)
       SELECT n_base, price_base, key_base, n_a, price_a, key_a,
         n_a AS n_p, price_a AS price_p, key_a AS key_p,
         CAST(1 AS INTEGER) AS stage_no_version,
         CAST(1 AS INTEGER) AS vacuum_keeps_staged,
         CAST(1 AS INTEGER) AS publish_one_version,
         CAST(1 AS INTEGER) AS wap_gone,
         CAST(1 AS INTEGER) AS abort_clean
       FROM hi CROSS JOIN allr"""

  /** `dsv2_check_constraints`: CHECK constraints + NOT NULL in the
    * write path ([[LedgerConstraints]]). v1 writes customers with a
    * NON-NULLABLE key (coalesce with a literal pins nullable=false in
    * the write schema, which the overwrite installs as the table's).
    * Then: a satisfiable CHECK lands (validation scan passes); an
    * unsatisfiable one is REFUSED with the existing violations; an
    * append of in-bound rows lands under the constraint; an append
    * with out-of-bound balances FAILS the job and leaves the digest
    * untouched (commit never ran — the atomicity half of the
    * invariant contract); NULL balances PASS the check (SQL CHECK's
    * null-passes rule) and land; a null KEY trips NOT NULL. DuckDB
    * replays the surviving ingest exactly. */
  def checkConstraints(spark: SparkSession, sfDir: String): DataFrame = {
    val t = scratch(spark, "chk", sfDir)
    val base = graft.io.Tables.customer(spark, sfDir).selectExpr(
      "coalesce(CAST(c_custkey AS BIGINT), CAST(0 AS BIGINT)) AS ckey",
      "CAST(round(c_acctbal * 100) AS BIGINT) AS bal_c")
    t.write(base, "overwrite")                                        // v1
    LedgerConstraints.addCheck(spark, t.dir, "bal_floor",
      "bal_c >= -100000000")                                          // v2
    val addRejected = fails[IllegalStateException](
      LedgerConstraints.addCheck(spark, t.dir, "bal_pos", "bal_c >= 0"))
    // in-bound append: the non-negative rows again, keys offset to
    // stay distinguishable in the replay
    t.write(base.where("bal_c >= 0")
      .selectExpr("ckey + 10000000 AS ckey", "bal_c"), "append")
    val balKey = Seq("bal_c" -> "bal", "ckey" -> "key")
    val mid = digest(t.read(), "mid", balKey: _*).collect()(0)
    val checkRejected = refuses("CHECK constraint 'bal_floor'")(t.write(
      base.limit(50).selectExpr("ckey", "bal_c - 200000000 AS bal_c"), "append"))
    val notNullRejected = refuses("NOT NULL violation")(t.write(
      base.limit(50).selectExpr("CAST(NULL AS BIGINT) AS ckey", "bal_c"), "append"))
    val afterFail = digest(t.read(), "af", balKey: _*).collect()(0)
    val failedAtomic = (0 until 3).forall(i => afterFail.getLong(i) == mid.getLong(i))
    // NULL passes CHECK: 5 smallest keys with NULL balances land
    t.write(base.orderBy("ckey").limit(5)
      .selectExpr("ckey + 20000000 AS ckey", "CAST(NULL AS BIGINT) AS bal_c"),
      "append")
    digest(t.read(), "fin", balKey: _*)
      .selectExpr("n_fin", "bal_fin", "key_fin",
        flag("add_rejected", addRejected), flag("check_rejected", checkRejected),
        flag("notnull_rejected", notNullRejected),
        flag("failed_atomic", failedAtomic))
  }

  /** `dsv2_spec_evolution`: partition-spec evolution
    * ([[LedgerMaintenance.alterPartitionSpec]]). The table starts
    * UNPARTITIONED (4 files), evolves to identity(nk), and appends a
    * second copy of the rows (keys offset) under the new spec. The
    * hashed row folds: the full-table digest across mixed specs, the
    * nk-probe digest (both eras contribute — DuckDB replays), EXACT
    * planning arithmetic (all pre-evolution files conservatively kept
    * + exactly the matching new-spec files), the refusal of a
    * metadata DELETE whose proof would need old-spec tuples, time
    * travel to the unpartitioned era, and the post-OPTIMIZE digest
    * (bins never mix specs). */
  def specEvolution(spark: SparkSession, sfDir: String): DataFrame = {
    val t = scratch(spark, "spev", sfDir)
    val root = t.root
    val base = graft.io.Tables.customer(spark, sfDir).selectExpr(
      "CAST(c_custkey AS BIGINT) AS ckey",
      "CAST(c_nationkey AS BIGINT) AS nk",
      "CAST(round(c_acctbal * 100) AS BIGINT) AS bal_c")
    t.write(base.repartition(4), "overwrite")                         // v1
    val newSpecId =
      LedgerMaintenance.alterPartitionSpec(t.dir, Seq(("nk", "identity", 0)))
    t.write(base.selectExpr("ckey + 10000000 AS ckey", "nk", "bal_c"), "append") // v3
    val probeNk = base.agg(min("nk")).head().getLong(0)
    val m = LedgerSink.readManifest(root).get
    val oldFiles = m.files.count(e => m.specOf(e) != m.specId)
    val newMatching = m.files.count(e => m.specOf(e) == m.specId &&
      e.partVals.contains(Seq(probeNk.toString)))
    val nkProbe = Array[org.apache.spark.sql.sources.Filter](EqualTo("nk", probeNk))
    val planned = plannedFiles(root, nkProbe)
    val plannedExact = oldFiles > 0 && newMatching > 0 &&
      planned == oldFiles + newMatching
    val mixedDetected = !m.specHomogeneous && newSpecId == 1
    val metaDeleteRefused = !new LedgerTable(root, m.schema).canDeleteWhere(nkProbe)
    val balKey = Seq("bal_c" -> "bal", "ckey" -> "key")
    val v1 = digest(t.read("versionAsOf" -> "1"), "v1", balKey: _*)
    val filesBefore = m.files.length
    LedgerMaintenance.optimize(spark, t.dir): Unit                    // v4
    val mOpt = LedgerSink.readManifest(root).get
    val optCompacted = mOpt.files.length < filesBefore &&
      mOpt.files.forall(e => mOpt.specFields(mOpt.specOf(e)).length ==
        e.partVals.map(_.length).getOrElse(0))
    val full = digest(t.read(), "all", balKey: _*)
    val probe = digest(t.read().where(s"nk = $probeNk"), "probe", balKey: _*)
    full.crossJoin(broadcast(probe)).crossJoin(broadcast(v1))
      .selectExpr("n_all", "bal_all", "key_all",
        "n_probe", "bal_probe", "key_probe",
        "n_v1", "bal_v1", "key_v1", flag("planned_exact", plannedExact),
        flag("mixed_detected", mixedDetected),
        flag("metadelete_refused", metaDeleteRefused),
        flag("opt_spec_intact", optCompacted))
  }

  val specEvolutionOracle: String =
    """WITH c AS (SELECT CAST(c_custkey AS BIGINT) AS ckey,
           CAST(c_nationkey AS BIGINT) AS nk,
           CAST(round(c_acctbal * 100) AS BIGINT) AS bal_c
         FROM customer),
        u AS (SELECT ckey, nk, bal_c FROM c
          UNION ALL SELECT ckey + 10000000, nk, bal_c FROM c),
        k AS (SELECT min(nk) AS mk FROM c),
        allr AS (SELECT count(*) AS n_all,
            CAST(sum(bal_c) AS BIGINT) AS bal_all,
            CAST(sum(ckey) AS BIGINT) AS key_all FROM u),
        probe AS (SELECT count(*) AS n_probe,
            CAST(sum(bal_c) AS BIGINT) AS bal_probe,
            CAST(sum(ckey) AS BIGINT) AS key_probe
          FROM u CROSS JOIN k WHERE nk = mk),
        v1 AS (SELECT count(*) AS n_v1,
            CAST(sum(bal_c) AS BIGINT) AS bal_v1,
            CAST(sum(ckey) AS BIGINT) AS key_v1 FROM c)
       SELECT n_all, bal_all, key_all, n_probe, bal_probe, key_probe,
         n_v1, bal_v1, key_v1,
         CAST(1 AS INTEGER) AS planned_exact,
         CAST(1 AS INTEGER) AS mixed_detected,
         CAST(1 AS INTEGER) AS metadelete_refused,
         CAST(1 AS INTEGER) AS opt_spec_intact
       FROM allr CROSS JOIN probe CROSS JOIN v1"""

  /** `dsv2_metadata_log`: the log-structured manifest layout. A
    * 64-file base table takes 10 one-file appends; the hashed row
    * folds: every append's commit wrote an O(delta) log file (max log
    * bytes ×4 < the full checkpoint's bytes — the metadata-I/O claim
    * at 100 TB scale, where full-manifest-per-commit is the
    * scale-killer), the checkpoint rolled exactly once (at
    * CheckpointEvery=8 commits past it), time travel replays ACROSS
    * the roll boundary (v5 = checkpoint v1 + log replay — DuckDB
    * recomputes the digest), retention keeps the newest two versions
    * as exact snapshots and drops the log, the expired version fails
    * fast, and vacuum reclaims nothing (appends orphan no file). */
  def metadataLog(spark: SparkSession, sfDir: String): DataFrame = {
    val t = scratch(spark, "mlog", sfDir)
    val root = t.root
    // one materialization feeds v1 and every append's narrow filter
    // (the commitVolume staging-buffer pattern, r14): before this the
    // ten appends re-scanned and re-shuffled the orders source once
    // each — 11 source passes for one protocol exercise
    val staged = graft.ops.Checkpoints.cut(
      graft.io.Tables.orders(spark, sfDir).selectExpr(
        "CAST(o_orderkey AS BIGINT) AS okey",
        "CAST(round(o_totalprice * 100) AS BIGINT) AS price_c",
        "CAST(o_orderkey AS BIGINT) % 10 AS slice"))
    t.write(staged.drop("slice").repartition(64), "overwrite")        // v1
    val fullBytes = java.nio.file.Files.size(root.resolve("_MANIFEST"))
    (0 until 10).foreach { i =>                                       // v2..v11
      // coalesce, not repartition: the append is one file either way,
      // and the narrow read of the staged buffer skips a shuffle
      t.write(staged.where(s"slice = $i")
        .selectExpr(s"okey + ${(i + 1) * 1000000000L} AS okey", "price_c")
        .coalesce(1), "append")
    }
    val logBytes = (2 to 11).map(v =>
      java.nio.file.Files.size(root.resolve(LedgerSink.logName(v))))
    val ckptRolled = java.nio.file.Files.exists(root.resolve(
      LedgerSink.checkpointName(1))) && LedgerSink.currentVersion(root) == 11
    val priceKey = Seq("price_c" -> "price", "okey" -> "key")
    val v5 = digest(t.read("versionAsOf" -> "5"), "v5", priceKey: _*).collect()(0)
    val expiredOk = LedgerRefs.expireVersions(root, keepLast = 2) == (1 to 8)
    val vacuumEmpty = LedgerSink.vacuum(root, olderThanMillis = 0L).isEmpty
    val v5Fails = fails[IllegalArgumentException](t.read("versionAsOf" -> "5"))
    val v10 = digest(t.read("versionAsOf" -> "10"), "v10", priceKey: _*)
    digest(t.read(), "all", priceKey: _*).crossJoin(broadcast(v10))
      .selectExpr(Seq("n_all", "price_all", "key_all",
        "n_v10", "price_v10", "key_v10") ++
        longCols(v5, "n_v5", "price_v5", "key_v5") ++ Seq(
        flag("log_small", logBytes.max * 4 < fullBytes),
        flag("ckpt_rolled", ckptRolled), flag("expired_ok", expiredOk),
        flag("vacuum_empty", vacuumEmpty), flag("v5_expired_fails", v5Fails)): _*)
  }

  val metadataLogOracle: String =
    """WITH o AS (SELECT CAST(o_orderkey AS BIGINT) AS okey,
           CAST(round(o_totalprice * 100) AS BIGINT) AS price_c
         FROM orders),
        slices AS (SELECT o.okey + (CAST(g.i AS BIGINT) + 1) * 1000000000
             AS okey, o.price_c, CAST(g.i AS BIGINT) AS slice
          FROM o CROSS JOIN range(10) AS g(i) WHERE o.okey % 10 = g.i),
        cur AS (SELECT count(*) AS n_all,
            CAST(sum(price_c) AS BIGINT) AS price_all,
            CAST(sum(okey) AS BIGINT) AS key_all
          FROM (SELECT okey, price_c FROM o
            UNION ALL SELECT okey, price_c FROM slices)),
        v10 AS (SELECT count(*) AS n_v10,
            CAST(sum(price_c) AS BIGINT) AS price_v10,
            CAST(sum(okey) AS BIGINT) AS key_v10
          FROM (SELECT okey, price_c FROM o
            UNION ALL SELECT okey, price_c FROM slices WHERE slice <= 8)),
        v5 AS (SELECT count(*) AS n_v5,
            CAST(sum(price_c) AS BIGINT) AS price_v5,
            CAST(sum(okey) AS BIGINT) AS key_v5
          FROM (SELECT okey, price_c FROM o
            UNION ALL SELECT okey, price_c FROM slices WHERE slice <= 3))
       SELECT n_all, price_all, key_all, n_v10, price_v10, key_v10,
         n_v5, price_v5, key_v5,
         CAST(1 AS INTEGER) AS log_small,
         CAST(1 AS INTEGER) AS ckpt_rolled,
         CAST(1 AS INTEGER) AS expired_ok,
         CAST(1 AS INTEGER) AS vacuum_empty,
         CAST(1 AS INTEGER) AS v5_expired_fails
       FROM cur CROSS JOIN v10 CROSS JOIN v5"""

  /** `dsv2_branch_ff`: branches + fast-forward publish
    * ([[LedgerRefs]] on the log layout) — multi-commit staging where
    * WAP stages one. Base = high-price orders; branch `audit` takes
    * TWO append commits (low-price rows, then the same rows re-keyed);
    * the hashed row folds: main's digest and version untouched while
    * the branch accumulates (eager reads), the branch-head read seeing
    * base + both commits, vacuum keeping branch-staged files,
    * fast-forward landing both commits as main versions (exactly
    * fork+2), and a second branch whose fast-forward is REFUSED after
    * main moved — its drop reclaiming the staged files. DuckDB
    * recomputes every digest from the fixture. */
  def branchFastForward(spark: SparkSession, sfDir: String): DataFrame = {
    val t = scratch(spark, "br", sfDir)
    val root = t.root
    val all = graft.io.Tables.orders(spark, sfDir).selectExpr(
      "CAST(o_orderkey AS BIGINT) AS okey",
      "CAST(round(o_totalprice * 100) AS BIGINT) AS price_c")
    t.write(all.where("price_c >= 10000000"), "overwrite")            // v1
    val fork = LedgerRefs.createBranch(root, "audit")
    val lo = all.where("price_c < 10000000")
    t.write(lo, "append", "branch" -> "audit")                        // b:v2
    t.write(lo.selectExpr("okey + 1000000000 AS okey", "price_c"),
      "append", "branch" -> "audit")                                  // b:v3
    val priceKey = Seq("price_c" -> "price", "okey" -> "key")
    val mainDuring = digest(t.read(), "base", priceKey: _*).collect()(0)
    val branchRead =
      digest(t.read("branch" -> "audit"), "br", priceKey: _*).collect()(0)
    val mainUntouched = LedgerSink.currentVersion(root) == fork
    val headOk = LedgerRefs.branchHead(root, "audit") == fork + 2
    // horizon 0 so this pins REFERENCE protection (staged manifests
    // keep their files live), not the age guard
    val vacuumKeeps = LedgerSink.vacuum(root, olderThanMillis = 0L).isEmpty
    val vFf = LedgerRefs.fastForward(root, "audit")
    val ffOk = vFf == fork + 2 && LedgerRefs.branches(root).isEmpty
    // a late branch races a main append: fast-forward must refuse,
    // drop must reclaim its staged files
    LedgerRefs.createBranch(root, "late"): Unit
    t.write(all.limit(200).selectExpr("okey + 2000000000 AS okey", "price_c"),
      "append", "branch" -> "late")
    val lateFiles = LedgerSink.readBranchState(root, "late",
      LedgerRefs.branchFork(root, "late")).files.map(_.file).toSet --
      LedgerSink.readManifest(root).get.files.map(_.file).toSet
    t.write(all.limit(50).selectExpr("okey + 3000000000 AS okey", "price_c"),
      "append")
    val ffRefused = fails[java.util.ConcurrentModificationException](
      LedgerRefs.fastForward(root, "late"))
    LedgerRefs.dropBranch(root, "late")
    LedgerSink.vacuum(root, olderThanMillis = 0L): Unit
    val dropClean = lateFiles.nonEmpty && lateFiles.forall(f =>
      !java.nio.file.Files.exists(root.resolve(f)))
    // post-ff digest pinned at the fast-forwarded version (the later
    // main append must not leak in)
    digest(t.read("versionAsOf" -> vFf.toString), "ff", priceKey: _*)
      .selectExpr(longCols(mainDuring, "n_base", "price_base", "key_base") ++
        longCols(branchRead, "n_br", "price_br", "key_br") ++ Seq(
        "n_ff", "price_ff", "key_ff", flag("main_untouched", mainUntouched),
        flag("head_ok", headOk), flag("vacuum_keeps_branch", vacuumKeeps),
        flag("ff_ok", ffOk), flag("ff_refused_after_move", ffRefused),
        flag("drop_clean", dropClean)): _*)
  }

  val branchFastForwardOracle: String =
    """WITH o AS (SELECT CAST(o_orderkey AS BIGINT) AS okey,
           CAST(round(o_totalprice * 100) AS BIGINT) AS price_c
         FROM orders),
        hi AS (SELECT count(*) AS n_base,
            CAST(sum(price_c) AS BIGINT) AS price_base,
            CAST(sum(okey) AS BIGINT) AS key_base
          FROM o WHERE price_c >= 10000000),
        fullr AS (SELECT count(*) AS n_br,
            CAST(sum(price_c) AS BIGINT) AS price_br,
            CAST(sum(okey) AS BIGINT) AS key_br
          FROM (SELECT okey, price_c FROM o
            UNION ALL SELECT okey + 1000000000, price_c FROM o
              WHERE price_c < 10000000))
       SELECT n_base, price_base, key_base, n_br, price_br, key_br,
         n_br AS n_ff, price_br AS price_ff, key_br AS key_ff,
         CAST(1 AS INTEGER) AS main_untouched,
         CAST(1 AS INTEGER) AS head_ok,
         CAST(1 AS INTEGER) AS vacuum_keeps_branch,
         CAST(1 AS INTEGER) AS ff_ok,
         CAST(1 AS INTEGER) AS ff_refused_after_move,
         CAST(1 AS INTEGER) AS drop_clean
       FROM hi CROSS JOIN fullr"""

  /** `dsv2_call_procedures`: the whole table lifecycle driven from
    * PLAIN SQL through the CALL procedure surface
    * ([[GraftProcedures]]) — tag, compaction, rollback, retention,
    * vacuum, constraints, and a branch published by fast-forward,
    * with every CALL's RESULT ROW feeding the flags (the SQL surface
    * must report exactly what the Scala API does). DuckDB recomputes
    * the tag-read, post-rollback and post-publish digests from the
    * fixture. */
  def callProcedures(spark: SparkSession, sfDir: String): DataFrame = {
    val g = tag(sfDir)
    val ct = catalogTable(spark, "cp", "cust", sfDir, "(ckey BIGINT, bal_c BIGINT)") // v1
    val t = ct.name
    val qual = s"cp.cust_$g"
    graft.io.Tables.customer(spark, sfDir)
      .createOrReplaceTempView(s"cp_base_$g")
    spark.sql(s"""INSERT INTO $t
        SELECT CAST(c_custkey AS BIGINT),
               CAST(round(c_acctbal * 100) AS BIGINT)
        FROM cp_base_$g""")                                        // v2
    spark.sql(s"""INSERT INTO $t
        SELECT ckey + 10000000, bal_c FROM $t WHERE bal_c >= 0""") // v3
    def call(sql: String): org.apache.spark.sql.Row =
      spark.sql(sql).collect()(0)
    val tagged = call(
      s"CALL graft_cat.sys.create_tag('$qual', 'audit', 3)").getInt(0)
    val opt = call(s"CALL graft_cat.sys.optimize('$qual')")
    val optOk = opt.getInt(0) >= 2 && opt.getInt(1) < opt.getInt(0)
    val rolledTo = call(
      s"CALL graft_cat.sys.rollback('$qual', 2)").getInt(0)       // v5
    val expired = call(
      s"CALL graft_cat.sys.expire_versions('$qual', 1)").getInt(0)
    val vacuumed = call(s"CALL graft_cat.sys.vacuum('$qual')").getInt(0)
    // everything is still referenced: live = v2's files, the tagged
    // v3 and the newest retained version pin the rest
    val lifecycleOk =
      tagged == 3 && rolledTo == 5 && expired == 2 && vacuumed == 0
    val balKey = Seq("bal_c" -> "bal", "ckey" -> "key")
    val tagRead = digest(ct.read("tagAsOf" -> "audit"), "tag", balKey: _*)
      .collect()(0)
    val checkAdded = call(
      s"CALL graft_cat.sys.add_check('$qual', 'floor', " +
        "'bal_c >= -100000000')").getInt(0)
    val checkRejected = refuses("CHECK constraint 'floor'")(
      spark.sql(s"INSERT INTO $t VALUES (1, -200000000)"))
    call(s"CALL graft_cat.sys.create_branch('$qual', 'stage')"): Unit
    ct.write(spark.range(0, 5).selectExpr(
        "id + 20000000 AS ckey", "CAST(id AS BIGINT) AS bal_c"),
      "append", "branch" -> "stage")
    val ffOk =
      call(s"CALL graft_cat.sys.fast_forward('$qual', 'stage')").getInt(0) > 0
    digest(spark.table(t), "cur", balKey: _*)
      .selectExpr(Seq("n_cur", "bal_cur", "key_cur") ++
        longCols(tagRead, "n_tag", "bal_tag", "key_tag") ++ Seq(
        flag("opt_ok", optOk), flag("lifecycle_ok", lifecycleOk),
        intCol("check_added", checkAdded), flag("check_rejected", checkRejected),
        flag("ff_ok", ffOk)): _*)
  }

  val callProceduresOracle: String =
    """WITH c AS (SELECT CAST(c_custkey AS BIGINT) AS ckey,
           CAST(round(c_acctbal * 100) AS BIGINT) AS bal_c
         FROM customer),
        cur AS (SELECT count(*) AS n_cur,
            CAST(sum(bal_c) AS BIGINT) AS bal_cur,
            CAST(sum(ckey) AS BIGINT) AS key_cur
          FROM (SELECT ckey, bal_c FROM c
            UNION ALL
            SELECT g.i + 20000000, CAST(g.i AS BIGINT)
            FROM range(5) AS g(i))),
        tg AS (SELECT count(*) AS n_tag,
            CAST(sum(bal_c) AS BIGINT) AS bal_tag,
            CAST(sum(ckey) AS BIGINT) AS key_tag
          FROM (SELECT ckey, bal_c FROM c
            UNION ALL SELECT ckey + 10000000, bal_c FROM c
              WHERE bal_c >= 0))
       SELECT n_cur, bal_cur, key_cur, n_tag, bal_tag, key_tag,
         CAST(1 AS INTEGER) AS opt_ok,
         CAST(1 AS INTEGER) AS lifecycle_ok,
         CAST(1 AS INTEGER) AS check_added,
         CAST(1 AS INTEGER) AS check_rejected,
         CAST(1 AS INTEGER) AS ff_ok
       FROM cur CROSS JOIN tg"""

  /** The storage-partitioned-join verdict: `j` plans a SortMergeJoin
    * with no Exchange on either side. Planning only, no action. */
  private def shuffleFreeSmj(j: DataFrame): Boolean = {
    val plan = j.queryExecution.executedPlan.toString
    !plan.contains("Exchange") && plan.contains("SortMergeJoin")
  }

  val checkConstraintsOracle: String =
    """WITH c AS (SELECT CAST(c_custkey AS BIGINT) AS ckey,
           CAST(round(c_acctbal * 100) AS BIGINT) AS bal_c
         FROM customer),
        appended AS (SELECT ckey + 10000000 AS ckey, bal_c
          FROM c WHERE bal_c >= 0),
        nulls AS (SELECT ckey + 20000000 AS ckey,
            CAST(NULL AS BIGINT) AS bal_c
          FROM c ORDER BY ckey LIMIT 5),
        fin AS (SELECT * FROM c UNION ALL SELECT * FROM appended
          UNION ALL SELECT * FROM nulls)
       SELECT count(*) AS n_fin,
         CAST(sum(bal_c) AS BIGINT) AS bal_fin,
         CAST(sum(ckey) AS BIGINT) AS key_fin,
         CAST(1 AS INTEGER) AS add_rejected,
         CAST(1 AS INTEGER) AS check_rejected,
         CAST(1 AS INTEGER) AS notnull_rejected,
         CAST(1 AS INTEGER) AS failed_atomic
       FROM fin"""
}
