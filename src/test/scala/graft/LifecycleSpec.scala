package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.curated.Aggregations
import graft.etl.Entities
import graft.io.{Catalog, Tables}
import graft.orchestrate.Orchestrator
import graft.pipelines.{DeliveryPerformance, SalesRevenue}
import graft.streaming.EventsStream

/** The full reference lifecycle (SURVEY §3.1) end-to-end in one
  * process: object drop → Lambda-style routing → jobs write zones →
  * streaming ingest writes the partitioned processed zone under
  * Trigger.AvailableNow → crawler-style catalog registration → every
  * downstream read resolves BY NAME with partition pruning intact.
  * Each stage uses the production code path (Orchestrator, pipelines,
  * Writers via streamToProcessed, Catalog) — nothing is mocked. */
class LifecycleSpec extends SparkSpec {

  test("drop → route → jobs + stream → zones → catalog → query by name") {
    val root = Files.createTempDirectory("graft_lifecycle").toString
    val curatedRevenue = s"$root/curated/revenue_by_category"
    val curatedDelivery = s"$root/curated/delivery_partner_performance"
    val processedEvents = s"$root/processed/events"

    // ---- 1. object drop + routing (lambda:17-53 semantics) ----
    // the routed jobs run concurrently: record them thread-safely
    val ran = new java.util.concurrent.ConcurrentLinkedQueue[Orchestrator.Job]()
    var crawled = Vector.empty[Seq[Orchestrator.Job]]
    val (results, _) = Orchestrator.runAndCrawl("incoming/orders_2024_08.csv") {
      case Orchestrator.SalesRevenue =>
        ran.add(Orchestrator.SalesRevenue)
        val sales = SalesRevenue.run(
          Entities.orders(spark, sfTiny), Entities.orderItems(spark, sfTiny),
          Entities.products(spark, sfTiny))
        graft.io.Writers.curated(
          Aggregations.revenueByCategory(sales), curatedRevenue)
      case Orchestrator.DeliveryPerformance =>
        ran.add(Orchestrator.DeliveryPerformance)
        graft.io.Writers.curated(
          Aggregations.deliveryPartnerPerformance(
            DeliveryPerformance.run(Entities.orders(spark, sfTiny))),
          curatedDelivery)
      case other => fail(s"orders drop must not route to $other")
    } { done =>
      // ---- 4. crawler step: register what the jobs wrote ----
      crawled :+= done
      Catalog.registerExternalUnpartitioned(
        spark, "lifecycle_revenue_by_category", curatedRevenue)
      Catalog.registerExternalUnpartitioned(
        spark, "lifecycle_delivery_partner", curatedDelivery)
    }
    // an orders object fans out to exactly the two sales jobs, results
    // in routing order
    val jobs = results.map(_.job)
    assert(results.forall(_.succeeded), results)
    assert(jobs == Seq(Orchestrator.SalesRevenue, Orchestrator.DeliveryPerformance))
    import scala.jdk.CollectionConverters._
    assert(ran.asScala.toSet == jobs.toSet && crawled == Vector(jobs))
    // and a non-csv drop triggers nothing (lambda:23 early return)
    assert(Orchestrator.runAndCrawl("incoming/orders.parquet")(
      _ => fail("routed a non-csv object"))(_ => fail("crawled with no jobs"))._1.isEmpty)

    // ---- 2. streaming leg: AvailableNow ingest → partitioned zone ----
    // y/m/d partitioning — the reference's processed-zone layout
    // (01:96-101); the fixture's events span one month, many days
    val enriched = EventsStream.rawEventsStream(spark, sfTiny)
      .withColumn("year", year(col("ts")))
      .withColumn("month", month(col("ts")))
      .withColumn("day", dayofmonth(col("ts")))
    val q = EventsStream.streamToProcessed(
        enriched, processedEvents, Seq("year", "month", "day"))
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", s"$root/checkpoints/events")
      .start()
    try q.awaitTermination() finally q.stop()

    // ---- 3+4. crawl the streamed zone, then read everything by name ----
    Catalog.registerExternal(spark, "lifecycle_events", processedEvents)

    val rev = spark.table("lifecycle_revenue_by_category")
    assert(rev.count() > 0 && rev.columns.contains("total_revenue"))
    val dp = spark.table("lifecycle_delivery_partner")
    assert(dp.count() == 50) // delivery_partner_id = o_orderkey % 50
    assert(spark.table("lifecycle_events").count()
      == Tables.events(spark, sfTiny).count())

    // partition pruning works through the crawled entry: a single
    // (year, month, day) predicate must not scan other days' dirs
    val pruned = spark.sql(
      """SELECT count(*) FROM lifecycle_events
         WHERE year = 2024 AND month = 1 AND day = 3""")
    val scan = pruned.queryExecution.executedPlan.toString
    assert(!scan.contains("day=4"), "partition pruning lost through catalog")
    assert(pruned.collect().head.getLong(0) > 0)

    // the curated zone read by name matches the pipeline output exactly
    val direct = Aggregations.revenueByCategory(SalesRevenue.run(
      Entities.orders(spark, sfTiny), Entities.orderItems(spark, sfTiny),
      Entities.products(spark, sfTiny))).collect()
    assert(rev.orderBy("category").collect().sameElements(direct))
  }
}
