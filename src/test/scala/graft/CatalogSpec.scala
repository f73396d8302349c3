package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.io.{Catalog, Writers}
import graft.orchestrate.Orchestrator

/** S6 second half: persistent catalog registration (the crawler step).
  * Covers managed saveAsTable, external table + recoverPartitions over
  * a Hive-layout path, partition pruning through the named table, and
  * the orchestrator's job→crawl sequencing. */
class CatalogSpec extends SparkSpec {
  import spark.implicits._

  test("curated zone saves as a managed table queryable by name") {
    val df = Seq(("Dairy", 10.5), ("Snacks", 4.0)).toDF("category", "revenue")
    Catalog.saveManaged(df, "cat_spec_curated")
    assert(spark.catalog.tableExists("cat_spec_curated"))
    val back = spark.sql(
      "SELECT revenue FROM cat_spec_curated WHERE category = 'Dairy'")
      .as[Double].collect().toSeq
    assert(back == Seq(10.5))
    // overwrite is idempotent (reference reruns jobs on every event)
    Catalog.saveManaged(df.filter(col("category") === "Snacks"), "cat_spec_curated")
    assert(spark.table("cat_spec_curated").count() == 1)
  }

  test("processed zone registers as external table; recoverPartitions finds hive layout") {
    val dir = Files.createTempDirectory("graft_cat_ext").toString
    val df = Seq((1, 2024, 1), (2, 2024, 1), (3, 2024, 2), (4, 2025, 1))
      .toDF("id", "year", "month")
    Writers.processed(df, dir, Seq("year", "month"))
    Catalog.registerExternal(spark, "cat_spec_processed", dir)
    val t = spark.table("cat_spec_processed")
    assert(t.count() == 4)
    assert(t.columns.toSet == Set("id", "year", "month"))

    // partition pruning works through the catalog name
    val pruned = spark.sql(
      "SELECT id FROM cat_spec_processed WHERE year = 2024 AND month = 2")
    val plan = pruned.queryExecution.executedPlan.toString
    assert(!plan.contains("year=2025"))
    assert(pruned.as[Int].collect().toSeq == Seq(3))

    // a partition written AFTER registration appears once re-crawled
    // (the reference re-runs the crawler after every job batch)
    Seq((9, 2025, 2)).toDF("id", "year", "month")
      .write.mode("append").partitionBy("year", "month").parquet(dir)
    spark.catalog.recoverPartitions("cat_spec_processed")
    assert(spark.table("cat_spec_processed").count() == 5)
  }

  test("orchestrator runs crawl after jobs, and only when jobs ran") {
    var crawled = Vector.empty[Seq[Orchestrator.Job]]
    // the routed jobs run concurrently: record them thread-safely
    val ran = new java.util.concurrent.ConcurrentLinkedQueue[Orchestrator.Job]()
    val jobs = Orchestrator.runAndCrawl("s3/orders_2024.csv")(j => ran.add(j): Unit)(
      js => crawled :+= js)._1.map(_.job)
    import scala.jdk.CollectionConverters._
    assert(jobs.toSet == ran.asScala.toSet && crawled == Vector(jobs))
    Orchestrator.runAndCrawl("ignore.txt")(j => ran.add(j): Unit)(js => crawled :+= js)
    assert(crawled.size == 1) // non-csv: no jobs, no crawl
  }
}
