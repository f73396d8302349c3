package graft.orchestrate

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.curated.Aggregations
import graft.etl.Entities
import graft.io.{Catalog, Readers, Tables, Writers}
import graft.pipelines.{CustomerFeedback, DeliveryPerformance,
  InventoryReconciliation, MarketingRoi, SalesRevenue}
import graft.sql.{AthenaQueries, OracleSql}

/** The reference's ACTUAL unit of work, composed end-to-end and timed
  * as one registered query (VERDICT r7 #4): a raw CSV batch lands →
  * lambda-style routing fans out to the five Glue-job pipelines (each
  * under its own budget with per-job failure isolation,
  * [[Orchestrator.runAndCrawl]]) → pipelines READ THE RAW CSVs
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
    val root = s"$tmp/graft_raw_zone_v2/${Tables.dirTag(dir)}"
    val marker = java.nio.file.Paths.get(root, "_STAGED")
    if (!java.nio.file.Files.exists(marker)) {
      // reclaim the pre-v2 zone on warm machines — the layout bump
      // must not leave a full orphaned CSV copy of every entity behind
      graft.sources.LedgerSink.deleteRecursively(
        java.nio.file.Paths.get(s"$tmp/graft_raw_zone/${Tables.dirTag(dir)}"))
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
    val fp = Tables.fingerprint(dir)
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

  /** One output zone of a job: the aggregate that fills it from the
    * job's transform, its summary digest (an exact integer, so the
    * composition is hash-checkable end to end) and the oracle relation
    * it must match. */
  private final case class Zone(name: String, fill: DataFrame => DataFrame,
      digest: String, oracle: String)

  private def zone(name: String, fill: DataFrame => DataFrame,
      digest: String): Zone = Zone(name, fill, digest, name)

  /** One routed job: its transform over the raw relations (the Glue
    * jobs read ONLY these CSV relations) and the zones it writes. */
  private final case class JobSpec(transform: RawRelations => DataFrame,
      zones: Zone*)

  private val jobs: Map[Orchestrator.Job, JobSpec] =
    Orchestrator.allJobs.map(j => j -> (j match {
      case Orchestrator.SalesRevenue =>
        JobSpec(r => SalesRevenue.run(r.orders, r.items, r.products),
          Zone("processed_sales_transactions", identity,
            "sum(CAST(round(line_total * 100) AS BIGINT))", "sales_tx"),
          zone("curated_revenue_by_category", Aggregations.revenueByCategory,
            "sum(CAST(round(total_revenue * 100) AS BIGINT))"))
      case Orchestrator.DeliveryPerformance =>
        JobSpec(r => DeliveryPerformance.run(r.orders),
          zone("curated_delivery_partner_performance",
            Aggregations.deliveryPartnerPerformance, "sum(delayed_deliveries)"))
      case Orchestrator.CustomerFeedback =>
        JobSpec(r => CustomerFeedback.enrich(r.feedback, r.customers, r.orders,
            CustomerFeedback.ratingIcons(r.orders.sparkSession)),
          zone("curated_area_feedback_metrics", CustomerFeedback.areaMetrics,
            "sum(total_feedback)"))
      case Orchestrator.MarketingRoi =>
        JobSpec(r => MarketingRoi.run(r.marketing),
          zone("curated_campaign_performance_summary",
            Aggregations.campaignPerformanceSummary,
            "sum(CAST(round(total_spend * 100) AS BIGINT))"))
      case Orchestrator.InventoryReconciliation =>
        JobSpec(r => InventoryReconciliation.run(r.invOld, r.invNew, r.products),
          zone("curated_category_inventory_impact",
            Aggregations.categoryInventoryImpact,
            "sum(CAST(round(total_impact * 100) AS BIGINT))"),
          zone("curated_product_inventory_discrepancies",
            Aggregations.productInventoryDiscrepancies,
            "sum(discrepancy_occurrences)"))
    })).toMap

  private val zones: Seq[Zone] = Orchestrator.allJobs.flatMap(jobs(_).zones)

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

  /** Run independent driver actions concurrently, at most 6 at once:
    * each thunk submits its own Spark job; the scheduler back-fills one
    * job's straggler tail with the next job's tasks. No deadline of its
    * own — the enclosing job's budget bounds it. A failure is rethrown
    * (the first in task order) only once every sibling has ended, so
    * nothing the caller releases afterwards is still in use. */
  private[graft] def inParallel[A](tasks: Seq[() => A]): Seq[A] =
    Orchestrator.fanOut(tasks, 6, i => s"graft-fanout-$i").map(_.get.get)

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

  /** The drop itself: stage the raw zone, then route a generic
    * daily-batch basename — it matches no routing substring, so it
    * routes to ALL five jobs (lambda:44-53 default branch), each under
    * its own 600 s budget with failures recorded, and the crawl runs
    * once at least one job succeeded (lambda:31-33 / 55-97). Each job
    * hands every output zone in `written` to `sink`. A job with more
    * than one output persists its transform, fills it with one
    * `count()` and writes the outputs concurrently, so the
    * joins/derivations run once, not once per output. A run where any
    * job or the crawl did not succeed is an error, not a result. */
  private def runDrop(spark: SparkSession, dir: String, written: Seq[Zone])(
      sink: (Zone, DataFrame) => Unit)(crawl: => Unit): Unit = {
    val rels = rawRelations(spark, dir, stageRawZone(spark, dir))
    val (results, crawled) = Orchestrator.runAndCrawl(
      "incoming/daily_batch_2024_08.csv") { j =>
      val spec = jobs(j)
      spec.zones.filter(written.contains) match {
        case Seq(z) => sink(z, z.fill(spec.transform(rels)))
        case zs =>
          val t = spec.transform(rels).persist()
          try {
            t.count(): Unit
            inParallel(zs.map(z => () => sink(z, z.fill(t)))): Unit
          } finally t.unpersist(blocking = false): Unit
      }
    }(_ => crawl)
    rels.release() // the zones are written; the raw parses are done with
    if (results.exists(!_.succeeded) || !crawled.contains("succeeded"))
      throw new IllegalStateException(
        s"end-to-end run degraded: jobs=$results crawl=$crawled")
  }

  /** One summary row per zone in `shown` (read through `table`) and
    * per Athena query (its SQL rewritten by `sql`), plus `extra` rows,
    * ordered by zone. */
  private def summaries(spark: SparkSession, shown: Seq[Zone],
      table: Zone => DataFrame, sql: String => String,
      extra: Seq[DataFrame] = Nil): DataFrame = {
    def summarize(name: String, df: DataFrame, digest: String): DataFrame =
      df.agg(expr("CAST(count(*) AS BIGINT)").as("n_rows"),
          expr(s"CAST($digest AS BIGINT)").as("digest"))
        .selectExpr(s"'$name' AS zone", "n_rows", "digest")
    concurrentSummaryUnion(spark,
      shown.map(z => summarize(z.name, table(z), z.digest)) ++
        queryDigests.map { case (q, digest) =>
          summarize(q, spark.sql(sql(AthenaQueries.all(q))), digest) } ++
        extra).orderBy("zone")
  }

  /** Oracle twin of [[summaries]]: the same rows from the shared CTE
    * registry (the DuckDB-side derivation of the same entities →
    * pipelines → curated aggregates → Athena queries). */
  private def summariesOracle(shown: Seq[Zone], extra: Seq[String] = Nil): String = {
    def row(name: String, digest: String, src: String): String =
      s"""SELECT '$name' AS zone, CAST(count(*) AS BIGINT) AS n_rows,
            CAST($digest AS BIGINT) AS digest FROM ($src)"""
    val rows = shown.map(z => row(z.name, z.digest, s"SELECT * FROM ${z.oracle}")) ++
      queryDigests.map { case (q, digest) => row(q, digest, AthenaQueries.all(q)) } ++
      extra
    OracleSql.withCtes(rows.mkString(" UNION ALL ") + " ORDER BY zone")
  }

  def pipelineEndToEnd(spark: SparkSession, dir: String): DataFrame = {
    val out = s"$tmp/graft_e2e_zones/${Tables.dirTag(dir)}"
    def zonePath(z: Zone): String = s"$out/${z.name}"
    def processed(z: Zone): Boolean = z.name.startsWith("processed_")
    runDrop(spark, dir, zones) { (z, df) =>
      if (processed(z)) Writers.processed(df, zonePath(z), Seq("year", "month"))
      else Writers.curated(df, zonePath(z))
    } {
      // Crawler step: register every curated zone + the partitioned
      // processed zone in the catalog, e2e_-prefixed (see e2eSql).
      zones.foreach { z =>
        if (processed(z)) Catalog.registerExternal(spark, s"e2e_${z.name}", zonePath(z))
        else Catalog.registerExternalUnpartitioned(spark, s"e2e_${z.name}", zonePath(z))
      }
    }
    // Athena tier over the crawled tables
    summaries(spark, zones, z => spark.table(s"e2e_${z.name}"), e2eSql)
  }

  val pipelineEndToEndOracle: String = summariesOracle(zones)

  /** The ledger composite writes the curated zones only. */
  private val curatedZones = zones.filterNot(_.name.startsWith("processed_"))

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
    // identifier-safe tag (dirTag keeps dots, which a SQL table name
    // cannot carry unquoted) — the ledger gates' own sanitizer
    val g = LedgerGate.tag(dir)
    val names = curatedZones.map(_.name)
    // fresh tables per run: the protocol verdicts assert version
    // arithmetic from v1, which a previous run's published tables on a
    // warm machine would break
    val t = names.map(z => z -> LedgerGate.catalogPath(spark, "e2el", z, dir)).toMap

    // each job CREATES its empty curated table (v1) then STAGES the
    // rows under wapId w1 — no version advances until publish; the
    // catalog IS the crawler here: path-convention tables
    runDrop(spark, dir, curatedZones) { (z, df) =>
      t(z.name).write(df.limit(0), "overwrite")
      t(z.name).write(df, "append", "wapId" -> "w1")
    }(())

    // AUDIT → PUBLISH. Audit reads the staged (base ∪ wap) state and
    // demands rows; staging must not have advanced any version.
    val stageIsolated = if (names.forall(z =>
      LedgerSink.currentVersion(t(z).root) == 1)) 1 else 0
    // the six audits read disjoint staged zones — independent jobs,
    // run concurrently (r14); every audit still completes before any
    // publish below, so the protocol ordering is untouched
    val audited = inParallel(names.map(z => () =>
      z -> t(z).read("wapId" -> "w1").count())).toMap
    if (audited.values.exists(_ == 0L))
      throw new IllegalStateException(s"audit found an empty zone: $audited")
    names.foreach(z => LedgerRefs.publishWap(t(z).root, "w1"): Unit)
    // post-publish verification: the version/wap checks are driver
    // file reads, the recounts are independent scans — concurrent (r14)
    val publishOk = if (inParallel(names.map(z => () =>
      LedgerSink.currentVersion(t(z).root) == 2 &&
        spark.table(t(z).name).count() == audited(z) &&
        LedgerSink.listWaps(t(z).root).isEmpty)).forall(identity)) 1 else 0

    // a deliberately FAILING audit: stage an empty second batch where
    // the audit demands rows — abort must leave live state untouched
    val probe = names.head
    val pt = t(probe)
    pt.write(spark.table(pt.name).limit(0), "append", "wapId" -> "w2")
    val auditFails =
      if (pt.read("wapId" -> "w2").count() == audited(probe)) 1 else 0
    LedgerRefs.abortWap(pt.root, "w2")
    val abortClean = if (LedgerSink.currentVersion(pt.root) == 2 &&
      spark.table(pt.name).count() == audited(probe) &&
      LedgerSink.listWaps(pt.root).isEmpty) 1 else 0

    val verdict = spark.range(1).selectExpr(
      "'wap_protocol' AS zone",
      "CAST(4 AS BIGINT) AS n_rows",
      s"CAST($stageIsolated * 1000 + $publishOk * 100 + " +
        s"$auditFails * 10 + $abortClean AS BIGINT) AS digest")
    // the six queries over the PUBLISHED catalog state
    summaries(spark, curatedZones, z => spark.table(t(z.name).name),
      _.replaceAll("\\bcurated_(\\w+)", s"graft_cat.e2el.curated_$$1_$g"),
      Seq(verdict))
  }

  /** Oracle twin: the curated/query summaries plus the all-green
    * protocol verdict row. */
  val pipelineEndToEndLedgerOracle: String = summariesOracle(curatedZones,
    Seq("SELECT 'wap_protocol' AS zone, CAST(4 AS BIGINT) AS n_rows, " +
      "CAST(1111 AS BIGINT) AS digest"))
}
