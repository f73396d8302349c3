package graft.orchestrate

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.curated.Aggregations
import graft.etl.Entities
import graft.io.{Catalog, Readers, Writers}
import graft.pipelines.{CustomerFeedback, DeliveryPerformance,
  InventoryReconciliation, MarketingRoi, SalesRevenue}
import graft.sql.{AthenaQueries, OracleSql}

/** The reference's ACTUAL unit of work, composed end-to-end and timed
  * as one registered query (VERDICT r7 #4): a raw CSV batch lands →
  * lambda-style routing fans out to the five Glue-job pipelines (each
  * under its own budget with per-job failure isolation,
  * [[Orchestrator.runAndCrawlRecorded]]) → pipelines READ THE RAW CSVs
  * with declared schemas → write the processed + curated parquet zones
  * → the crawler step registers every zone in the catalog → the six
  * Athena queries run over the crawled tables → one summary row per
  * zone and per query (exact row counts + exact-integer digests).
  *
  * The raw zone is staged ONCE per fixture dir (the upstream
  * producer's side of the S3 drop — a CSV export of the entity
  * relations, exactly the relations the per-query oracles derive), so
  * the timed work is the drop-to-dashboard path, not fixture
  * generation. CSV round-trip is bit-exact by construction: longs and
  * strings verbatim, doubles via shortest-repr (Double.toString
  * round-trips), timestamps written and read at micros precision.
  *
  * The oracle recomputes the same summaries from the shared CTE
  * registry ([[graft.sql.OracleSql]]) — every digest column is an
  * exact integer (cents/counts), so the whole composition
  * hash-matches DuckDB.
  */
object EndToEnd {

  private val TsFmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"

  private def tmp = System.getProperty("java.io.tmpdir")

  private def dirTag(dir: String): String =
    dir.replaceAll("[^A-Za-z0-9.]", "_") + "_" +
      java.lang.Integer.toHexString(
        java.util.Arrays.hashCode(dir.getBytes("UTF-8")))

  /** Entity name → (builder, raw-zone subpath). The inventory
    * generations land in sibling dirs so the generation split runs on
    * file provenance, the reference's own mechanism (05:39-45). */
  private def entities(spark: SparkSession, dir: String): Seq[(String, DataFrame)] =
    Seq(
      "orders" -> Entities.orders(spark, dir),
      "order_items" -> Entities.orderItems(spark, dir),
      "products" -> Entities.products(spark, dir),
      "customers" -> Entities.customers(spark, dir),
      "feedback" -> Entities.feedback(spark, dir),
      "marketing" -> Entities.marketing(spark, dir),
      "inventory/gen_old" -> Entities.inventoryOld(spark, dir),
      "inventory/inventoryNew" -> Entities.inventoryNew(spark, dir))

  /** Stage the raw CSV zone for `dir` (idempotent, once per fixture
    * dir per machine; guarded by a marker file + JVM lock). */
  def stageRawZone(spark: SparkSession, dir: String): String = synchronized {
    // v2: layout version in the path — the marker-file idempotency
    // would otherwise pin a zone staged by older code (64 shards per
    // entity) forever on a warm machine.
    val root = s"$tmp/graft_raw_zone_v2/${dirTag(dir)}"
    val marker = java.nio.file.Paths.get(root, "_STAGED")
    if (!java.nio.file.Files.exists(marker)) {
      // reclaim the pre-v2 zone on warm machines — the layout bump
      // must not leave a full orphaned CSV copy of every entity behind
      graft.sources.LedgerSink.deleteRecursively(
        java.nio.file.Paths.get(s"$tmp/graft_raw_zone/${dirTag(dir)}"))
      entities(spark, dir).foreach { case (name, df) =>
        // A handful of CSV files per entity, not one-per-task: the raw
        // zone models the producer's batch drop (the reference ingests
        // ONE daily csv per entity, lambda:20-22); 64 shards per entity
        // just multiplies open/parse overhead for all five concurrent
        // consumer jobs. 4 keeps split parallelism for the big entities
        // without the tiny-file tax.
        df.coalesce(4).write.mode("overwrite")
          .option("header", "true")
          .option("timestampFormat", TsFmt)
          .csv(s"$root/$name")
      }
      java.nio.file.Files.createFile(marker)
    }
    root
  }

  /** Entity name → declared schema, resolved ONCE per fixture state
    * (r14): every [[readEntity]] call previously re-constructed and
    * re-analyzed all eight entity plans just to read one schema —
    * 8×8 = 64 plan analyses of pure driver time per composite run. */
  private val entitySchemas =
    new java.util.concurrent.ConcurrentHashMap[
      String, (String, Map[String, org.apache.spark.sql.types.StructType])]()

  // keyed by dir, valid while the dir's file fingerprint holds: the
  // declared schemas are a pure function of the fixture files (plain
  // StructTypes, no session references), and a fixture regenerated at
  // the same path in this JVM replaces the entry instead of reading a
  // stale one
  private[graft] def entitySchema(spark: SparkSession, dir: String,
      name: String): org.apache.spark.sql.types.StructType = {
    val fp = graft.io.Tables.fingerprint(dir)
    entitySchemas.compute(dir, (_, cached) =>
      if (cached != null && cached._1 == fp) cached
      else fp -> entities(spark, dir).map { case (n, df) => n -> df.schema }.toMap
    )._2.apply(name)
  }

  private def readEntity(spark: SparkSession, dir: String, raw: String,
      name: String): DataFrame =
    spark.read.option("header", "true").option("timestampFormat", TsFmt)
      .schema(entitySchema(spark, dir, name)).csv(s"$raw/$name")

  /** The seven raw CSV relations the five jobs consume, PERSISTED for
    * the jobs' duration: orders and products feed two jobs each and
    * the inventory glob is read twice (provenance split), so without
    * the persist the concurrent jobs parse the same CSV bytes up to
    * three times — measured as ~2-3 s of the composite at sf0.1, and
    * at cluster scale it is raw-zone re-scan traffic the reference's
    * staged S3 reads would also pay only once per job run. Lazy
    * persist keeps the jobs' concurrency (first action materializes,
    * the rest reuse blocks); callers unpersist via [[RawRelations.release]]
    * once the zones are written. */
  private case class RawRelations(orders: DataFrame, items: DataFrame,
      products: DataFrame, customers: DataFrame, feedback: DataFrame,
      marketing: DataFrame, invOld: DataFrame, invNew: DataFrame,
      handles: Seq[DataFrame]) {
    def release(): Unit = handles.foreach(_.unpersist(blocking = false))
  }

  private def rawRelations(spark: SparkSession, dir: String,
      raw: String): RawRelations = {
    def e(n: String) = readEntity(spark, dir, raw, n).persist()
    val orders = e("orders"); val items = e("order_items")
    val products = e("products"); val customers = e("customers")
    val feedback = e("feedback"); val marketing = e("marketing")
    // Generation split on file provenance (P6, 05:39-45).
    val invSchema = Entities.inventoryOld(spark, dir).schema
    val invAll = Readers
      .csvWithProvenance(spark, invSchema, s"$raw/inventory/*/*.csv")
      .persist()
    val invOld = invAll.filter(!col("source_file").contains("inventoryNew"))
      .drop("source_file")
    val invNew = invAll.filter(col("source_file").contains("inventoryNew"))
      .drop("source_file")
    RawRelations(orders, items, products, customers, feedback, marketing,
      invOld, invNew,
      Seq(orders, items, products, customers, feedback, marketing, invAll))
  }

  /** Zone/query summary digests — every one an exact integer so the
    * composition is hash-checkable end to end. */
  private val zoneDigests: Seq[(String, String)] = Seq(
    "processed_sales_transactions" ->
      "sum(CAST(round(line_total * 100) AS BIGINT))",
    "curated_revenue_by_category" ->
      "sum(CAST(round(total_revenue * 100) AS BIGINT))",
    "curated_campaign_performance_summary" ->
      "sum(CAST(round(total_spend * 100) AS BIGINT))",
    "curated_delivery_partner_performance" -> "sum(delayed_deliveries)",
    "curated_area_feedback_metrics" -> "sum(total_feedback)",
    "curated_category_inventory_impact" ->
      "sum(CAST(round(total_impact * 100) AS BIGINT))",
    "curated_product_inventory_discrepancies" ->
      "sum(discrepancy_occurrences)")

  private val queryDigests: Seq[(String, String)] = Seq(
    "q_campaign_roi" -> "sum(total_conversions)",
    "q_customer_metrics" -> "sum(total_orders)",
    "q_customer_satisfaction" -> "sum(positive_count)",
    "q_delivery_partner" -> "sum(delayed_deliveries)",
    "q_inventory_and_revenue" -> "sum(affected_products)",
    "q_inventory_discrepancies" -> "sum(discrepancy_occurrences)")

  /** Catalog names carry an e2e_ prefix so the crawled tables can
    * never collide with the q_* queries' temp views (Verify runs the
    * corpus concurrently over one session). */
  private def e2eSql(sql: String): String =
    sql.replaceAll("\\bcurated_", "e2e_curated_")

  private def summarize(zone: String, df: DataFrame, digest: String): DataFrame =
    df.agg(expr("CAST(count(*) AS BIGINT)").as("n_rows"),
        expr(s"CAST($digest AS BIGINT)").as("digest"))
      .selectExpr(s"'$zone' AS zone", "n_rows", "digest")

  /** Run independent driver actions concurrently (guide §2.6): each
    * thunk submits its own Spark job; the scheduler back-fills one
    * job's straggler tail with the next job's tasks. Exceptions
    * propagate (Await rethrows the first failure). */
  private def inParallel[A](tasks: Seq[() => A], width: Int = 6): Seq[A] = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(width, math.max(1, tasks.size)))
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try Await.result(
      Future.sequence(tasks.map(t => Future(t()))),
      scala.concurrent.duration.Duration(600, "s"))
    finally pool.shutdown()
  }

  /** Materialize the union of independent ONE-ROW summary branches by
    * running each branch as its own concurrent job (r14): the lazy
    * `reduce(unionByName)` plan executed its 13-15 aggregate subtrees
    * as one action whose query stages largely serialized — ~4.4 s of
    * the composite's wall was this tail. Values are exact integer
    * digests (deterministic regardless of parallelism), and the
    * schema is taken verbatim from the union plan, so the result is
    * row- and schema-identical to executing the union itself. */
  private[graft] def concurrentSummaryUnion(spark: SparkSession,
      branches: Seq[DataFrame]): DataFrame = {
    // schema comes from the union PLAN itself (nullability is the
    // per-field OR over branches), so the result is schema-identical
    // to executing the union; each branch is collected in the union's
    // column order, since unionByName matches by name, not position
    val schema = branches.reduce(_ unionByName _).schema
    val cols = schema.fieldNames.map(col)
    val rows = inParallel(branches.map(df => () =>
      df.select(cols: _*).collect().toSeq)).flatten
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), schema)
  }

  def pipelineEndToEnd(spark: SparkSession, dir: String): DataFrame = {
    val raw = stageRawZone(spark, dir)
    val out = s"$tmp/graft_e2e_zones/${dirTag(dir)}"
    def zonePath(z: String): String = s"$out/$z"

    // Raw reads with declared schemas (S1) — the five jobs below
    // consume ONLY these CSV relations, exactly like the Glue jobs.
    val rels = rawRelations(spark, dir, raw)
    import rels.{orders, items, products, customers, feedback, marketing,
      invOld, invNew}

    // A generic daily-batch basename matches no routing substring, so
    // it routes to ALL five jobs (lambda:44-53 default branch); each
    // runs under its own 600 s budget, failures recorded and skipped,
    // and the crawl runs because at least one job succeeded
    // (lambda:31-33 / 55-97 semantics). The five jobs run as
    // CONCURRENT Spark jobs — they write disjoint zones, so the only
    // thing the reference's sequential loop adds is idle executors
    // (see [[Orchestrator.runRecordedConcurrent]]'s deviation note).
    val (results, crawl) = Orchestrator.runAndCrawlRecordedConcurrent(
      "incoming/daily_batch_2024_08.csv") {
      case Orchestrator.SalesRevenue =>
        // two sinks consume the same transform — persist so the
        // joins/derivations run once, not once per write. r14:
        // materialize the cache FIRST (one count over the persisted
        // plan fills it), then run the two independent sink writes
        // concurrently — the tiny curated agg hides under the
        // 80-partition processed write instead of following it
        val sales = SalesRevenue.run(orders, items, products).persist()
        try {
          sales.count(): Unit
          inParallel(Seq(
            () => Writers.processed(sales,
              zonePath("processed_sales_transactions"), Seq("year", "month")),
            () => Writers.curated(Aggregations.revenueByCategory(sales),
              zonePath("curated_revenue_by_category")))): Unit
        } finally sales.unpersist(blocking = false): Unit
      case Orchestrator.DeliveryPerformance =>
        Writers.curated(
          Aggregations.deliveryPartnerPerformance(
            DeliveryPerformance.run(orders)),
          zonePath("curated_delivery_partner_performance"))
      case Orchestrator.CustomerFeedback =>
        Writers.curated(
          CustomerFeedback.areaMetrics(CustomerFeedback.enrich(
            feedback, customers, orders, CustomerFeedback.ratingIcons(spark))),
          zonePath("curated_area_feedback_metrics"))
      case Orchestrator.MarketingRoi =>
        Writers.curated(
          Aggregations.campaignPerformanceSummary(MarketingRoi.run(marketing)),
          zonePath("curated_campaign_performance_summary"))
      case Orchestrator.InventoryReconciliation =>
        val recon = InventoryReconciliation.run(invOld, invNew, products)
          .persist()
        try {
          recon.count(): Unit // fill the cache once, then fan out
          inParallel(Seq(
            () => Writers.curated(Aggregations.categoryInventoryImpact(recon),
              zonePath("curated_category_inventory_impact")),
            () => Writers.curated(
              Aggregations.productInventoryDiscrepancies(recon),
              zonePath("curated_product_inventory_discrepancies")))): Unit
        } finally recon.unpersist(blocking = false): Unit
    } { _ =>
      // Crawler step: register every curated zone + the partitioned
      // processed zone in the catalog, e2e_-prefixed (see e2eSql).
      zoneDigests.map(_._1).foreach { z =>
        if (z.startsWith("processed_"))
          Catalog.registerExternal(spark, s"e2e_$z", zonePath(z))
        else
          Catalog.registerExternalUnpartitioned(spark, s"e2e_$z", zonePath(z))
      }
    }
    rels.release() // zones are written; the raw parses are done with
    val failed = results.filterNot(_.succeeded)
    if (failed.nonEmpty || !crawl.contains("succeeded"))
      throw new IllegalStateException(
        s"end-to-end run degraded: jobs=$results crawl=$crawl")

    // Athena tier over the crawled tables, then one summary row per
    // zone and per query.
    val zoneRows = zoneDigests.map { case (z, digest) =>
      summarize(z, spark.table(s"e2e_$z"), digest) }
    val queryRows = queryDigests.map { case (q, digest) =>
      summarize(q, spark.sql(e2eSql(AthenaQueries.all(q))), digest) }
    concurrentSummaryUnion(spark, zoneRows ++ queryRows).orderBy("zone")
  }

  /** `pipeline_end_to_end_ledger`: the reference's unit of work with
    * the curated zone landing in LEDGER TABLES through
    * write-audit-publish — the lakehouse-native shape of the same
    * drop-to-dashboard path. Raw CSVs route to the five concurrent
    * jobs as in [[pipelineEndToEnd]], but each curated table stages
    * its rows under a `wapId` against an empty ledger table (no
    * version advances), the audit step recounts the STAGED read and
    * only then publishes, and the six Athena queries run over the
    * PUBLISHED catalog state. A deliberately failing audit (an empty
    * second batch where the audit demands rows) aborts cleanly: live
    * tables untouched, staged files deleted. The protocol verdicts
    * travel as one extra summary row whose digest folds the four
    * checks, so the oracle hash fails if any protocol step regresses. */
  def pipelineEndToEndLedger(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.{LedgerGate, LedgerRefs, LedgerSink}
    val raw = stageRawZone(spark, dir)
    // identifier-safe tag (dirTag keeps dots, which a SQL table name
    // cannot carry unquoted) — the ledger gates' own sanitizer
    val g = LedgerGate.tag(dir)
    val zones = zoneDigests.filterNot(_._1.startsWith("processed_")).map(_._1)
    // fresh tables per run: the protocol verdicts assert version
    // arithmetic from v1, which a previous run's published tables on a
    // warm machine would break
    val t = zones.map(z => z -> LedgerGate.catalogPath(spark, "e2el", z, dir)).toMap

    val rels = rawRelations(spark, dir, raw)
    import rels.{orders, items, products, customers, feedback, marketing,
      invOld, invNew}

    // each job CREATES its empty curated table (v1) then STAGES the
    // rows under wapId w1 — no version advances until publish
    def stageWap(zone: String, df: DataFrame): Unit = {
      t(zone).write(df.limit(0), "overwrite")
      t(zone).write(df, "append", "wapId" -> "w1")
    }
    val (results, crawl) = Orchestrator.runAndCrawlRecordedConcurrent(
      "incoming/daily_batch_2024_08.csv") {
      case Orchestrator.SalesRevenue =>
        stageWap("curated_revenue_by_category",
          Aggregations.revenueByCategory(
            SalesRevenue.run(orders, items, products)))
      case Orchestrator.DeliveryPerformance =>
        stageWap("curated_delivery_partner_performance",
          Aggregations.deliveryPartnerPerformance(
            DeliveryPerformance.run(orders)))
      case Orchestrator.CustomerFeedback =>
        stageWap("curated_area_feedback_metrics",
          CustomerFeedback.areaMetrics(CustomerFeedback.enrich(
            feedback, customers, orders, CustomerFeedback.ratingIcons(spark))))
      case Orchestrator.MarketingRoi =>
        stageWap("curated_campaign_performance_summary",
          Aggregations.campaignPerformanceSummary(MarketingRoi.run(marketing)))
      case Orchestrator.InventoryReconciliation =>
        val recon = InventoryReconciliation.run(invOld, invNew, products)
          .persist()
        try {
          stageWap("curated_category_inventory_impact",
            Aggregations.categoryInventoryImpact(recon))
          stageWap("curated_product_inventory_discrepancies",
            Aggregations.productInventoryDiscrepancies(recon))
        } finally recon.unpersist(blocking = false): Unit
    } { _ => () } // the catalog IS the crawler here: path-convention tables
    rels.release() // staged; the raw parses are done with
    val failed = results.filterNot(_.succeeded)
    if (failed.nonEmpty || !crawl.contains("succeeded"))
      throw new IllegalStateException(
        s"ledger end-to-end degraded: jobs=$results crawl=$crawl")

    // AUDIT → PUBLISH. Audit reads the staged (base ∪ wap) state and
    // demands rows; staging must not have advanced any version.
    val stageIsolated = if (zones.forall(z =>
      LedgerSink.currentVersion(t(z).root) == 1)) 1 else 0
    // the six audits read disjoint staged zones — independent jobs,
    // run concurrently (r14); every audit still completes before any
    // publish below, so the protocol ordering is untouched
    val audited = inParallel(zones.map(z => () =>
      z -> t(z).read("wapId" -> "w1").count())).toMap
    if (audited.values.exists(_ == 0L))
      throw new IllegalStateException(s"audit found an empty zone: $audited")
    zones.foreach(z => LedgerRefs.publishWap(t(z).root, "w1"): Unit)
    // post-publish verification: the version/wap checks are driver
    // file reads, the recounts are independent scans — concurrent (r14)
    val publishOk = if (inParallel(zones.map(z => () =>
      LedgerSink.currentVersion(t(z).root) == 2 &&
        spark.table(t(z).name).count() == audited(z) &&
        LedgerSink.listWaps(t(z).root).isEmpty)).forall(identity)) 1 else 0

    // a deliberately FAILING audit: stage an empty second batch where
    // the audit demands rows — abort must leave live state untouched
    val probe = zones.head
    val pt = t(probe)
    pt.write(spark.table(pt.name).limit(0), "append", "wapId" -> "w2")
    val auditFails =
      if (pt.read("wapId" -> "w2").count() == audited(probe)) 1 else 0
    LedgerRefs.abortWap(pt.root, "w2")
    val abortClean = if (LedgerSink.currentVersion(pt.root) == 2 &&
      spark.table(pt.name).count() == audited(probe) &&
      LedgerSink.listWaps(pt.root).isEmpty) 1 else 0

    // the six queries over the PUBLISHED catalog state
    def ledgerSql(sql: String): String =
      sql.replaceAll("\\bcurated_(\\w+)", s"graft_cat.e2el.curated_$$1_$g")
    val zoneRows = zoneDigests.filterNot(_._1.startsWith("processed_"))
      .map { case (z, digest) => summarize(z, spark.table(t(z).name), digest) }
    val queryRows = queryDigests.map { case (q, digest) =>
      summarize(q, spark.sql(ledgerSql(AthenaQueries.all(q))), digest) }
    val verdict = spark.range(1).selectExpr(
      "'wap_protocol' AS zone",
      "CAST(4 AS BIGINT) AS n_rows",
      s"CAST($stageIsolated * 1000 + $publishOk * 100 + " +
        s"$auditFails * 10 + $abortClean AS BIGINT) AS digest")
    concurrentSummaryUnion(spark, zoneRows ++ queryRows :+ verdict)
      .orderBy("zone")
  }

  /** Oracle twin: the curated/query summaries from the shared CTE
    * registry plus the all-green protocol verdict row. */
  val pipelineEndToEndLedgerOracle: String = {
    val rows =
      zoneDigests.filterNot(_._1.startsWith("processed_"))
        .map { case (z, digest) =>
          s"""SELECT '$z' AS zone, CAST(count(*) AS BIGINT) AS n_rows,
                CAST($digest AS BIGINT) AS digest FROM $z""" } ++
      queryDigests.map { case (q, digest) =>
        s"""SELECT '$q' AS zone, CAST(count(*) AS BIGINT) AS n_rows,
              CAST($digest AS BIGINT) AS digest
            FROM (${AthenaQueries.all(q)})""" } :+
      "SELECT 'wap_protocol' AS zone, CAST(4 AS BIGINT) AS n_rows, " +
        "CAST(1111 AS BIGINT) AS digest"
    OracleSql.withCtes(rows.mkString(" UNION ALL ") + " ORDER BY zone")
  }

  /** Oracle: identical summaries from the shared CTE registry (the
    * DuckDB-side derivation of the same entities → pipelines →
    * curated aggregates → Athena queries). */
  val pipelineEndToEndOracle: String = {
    val zoneSrc = Map(
      "processed_sales_transactions" -> "SELECT * FROM sales_tx",
      "curated_revenue_by_category" -> "SELECT * FROM curated_revenue_by_category",
      "curated_campaign_performance_summary" ->
        "SELECT * FROM curated_campaign_performance_summary",
      "curated_delivery_partner_performance" ->
        "SELECT * FROM curated_delivery_partner_performance",
      "curated_area_feedback_metrics" ->
        "SELECT * FROM curated_area_feedback_metrics",
      "curated_category_inventory_impact" ->
        "SELECT * FROM curated_category_inventory_impact",
      "curated_product_inventory_discrepancies" ->
        "SELECT * FROM curated_product_inventory_discrepancies")
    val rows =
      zoneDigests.map { case (z, digest) =>
        s"""SELECT '$z' AS zone, CAST(count(*) AS BIGINT) AS n_rows,
              CAST($digest AS BIGINT) AS digest FROM (${zoneSrc(z)})""" } ++
      queryDigests.map { case (q, digest) =>
        s"""SELECT '$q' AS zone, CAST(count(*) AS BIGINT) AS n_rows,
              CAST($digest AS BIGINT) AS digest
            FROM (${AthenaQueries.all(q)})""" }
    OracleSql.withCtes(rows.mkString(" UNION ALL ") + " ORDER BY zone")
  }
}
