package graft

import java.nio.file.{Files, Paths, StandardCopyOption}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType}
import graft.io.{Readers, Writers}
import graft.orchestrate.{EndToEnd, Orchestrator}
import graft.pipelines.InventoryReconciliation
import graft.schema.Schemas

/** The reference's actual ingest shape, end to end: raw CSVs with
  * headers → explicit-schema read (S1) with file provenance (S5) →
  * generation split via negated contains (P6, 05:39-45) → pipeline →
  * partitioned parquet write → read-back. Also drives the orchestrator
  * routing into a real pipeline run.
  */
class CsvEndToEndSpec extends SparkSpec {
  import spark.implicits._

  test("inventory CSVs: provenance split, reconciliation, partitioned write") {
    val raw = Files.createTempDirectory("graft_csv").toString
    Files.writeString(java.nio.file.Path.of(raw, "inventory_batch1.csv"),
      "product_id,date,stock_received,damaged_stock\n" +
        "p1,2024-01-10,100,5\np2,2024-01-10,50,0\n")
    Files.writeString(java.nio.file.Path.of(raw, "inventoryNew_batch1.csv"),
      "product_id,date,stock_received,damaged_stock\n" +
        "p1,2024-01-10,80,5\np3,2024-01-10,30,1\n")

    val all = Readers.csvWithProvenance(spark, Schemas.inventory, s"$raw/*.csv")
      .withColumn("date", to_date(col("date")))
      .withColumn("src_order", lit(0L)).withColumn("src_line", lit(0))
    // P6: the reference's filename-substring generation split (05:39-45)
    val old = all.filter(!col("source_file").contains("inventoryNew")).drop("source_file")
    val nw = all.filter(col("source_file").contains("inventoryNew")).drop("source_file")
    assert(old.count() == 2 && nw.count() == 2)

    val products = Seq(("p1", "P1", "CAT", 2.0), ("p2", "P2", "CAT", 4.0), ("p3", "P3", "CAT", 8.0))
      .toDF("product_id", "product_name", "category", "price")
    val recon = InventoryReconciliation.run(old, nw, products)
    val byId = recon.select("product_id", "stock_variance", "has_discrepancy", "severity")
      .as[(String, Int, Int, String)].collect().map(r => r._1 -> r).toMap
    assert(byId("p1") == (("p1", -20, 1, "Medium"))) // both gens
    assert(byId("p2") == (("p2", -50, 1, "Medium"))) // old-only
    assert(byId("p3") == (("p3", 30, 1, "Medium")))  // new-only

    val out = Files.createTempDirectory("graft_csv_out").toString
    Writers.processed(recon, out, Seq("year", "month"))
    val back = spark.read.parquet(out)
    assert(back.count() == 3)
    assert(new java.io.File(s"$out/year=2024/month=1").isDirectory)
  }

  test("orchestrator routes an inventory drop to the reconciliation pipeline only") {
    val ran = new java.util.concurrent.ConcurrentLinkedQueue[Orchestrator.Job]()
    Orchestrator.runAndCrawl("raw/inventory/inventoryNew_batch1.csv")(
      j => ran.add(j): Unit)(_ => ())
    import scala.jdk.CollectionConverters._
    assert(ran.asScala.toSeq == Seq(Orchestrator.InventoryReconciliation))
  }

  test("in-job fan-out rethrows a failure only after every sibling has ended") {
    val siblingDone = new java.util.concurrent.atomic.AtomicBoolean(false)
    val e = intercept[IllegalStateException](EndToEnd.inParallel(Seq(
      () => throw new IllegalStateException("task 0"),
      () => { Thread.sleep(500); siblingDone.set(true) })))
    assert(e.getMessage == "task 0")
    assert(siblingDone.get,
      "a sibling was still running when the fan-out threw")
  }

  test("in-job fan-out runs at most 6 at once, one fresh non-orchestrator thread per task") {
    val live = new java.util.concurrent.atomic.AtomicInteger()
    val peak = new java.util.concurrent.atomic.AtomicInteger()
    // the first six tasks hold until all six are in flight
    val firstSix = new java.util.concurrent.CountDownLatch(6)
    val threads = EndToEnd.inParallel((0 until 13).map(_ => () => {
      peak.accumulateAndGet(live.incrementAndGet(), math.max)
      firstSix.countDown()
      firstSix.await(10, java.util.concurrent.TimeUnit.SECONDS)
      Thread.sleep(20)
      live.decrementAndGet()
      Thread.currentThread()
    }))
    assert(peak.get == 6)
    assert(threads.distinct.size == 13 && threads.forall(!_.isAlive))
    assert(threads.forall(t => !t.getName.startsWith("graft-orchestrator-")))
  }

  test("summary union collects each branch in the union's column order") {
    val a = Seq(("z1", 1L, 10L)).toDF("zone", "n_rows", "digest")
    val b = Seq((20L, "z2", 2L)).toDF("digest", "zone", "n_rows")
    val union = a.unionByName(b)
    val out = EndToEnd.concurrentSummaryUnion(spark, Seq(a, b))
    assert(out.schema == union.schema)
    assert(out.orderBy("zone").collect().toSeq == union.orderBy("zone").collect().toSeq)
  }

  test("entity schemas follow a fixture rewritten at the same path") {
    val fx = Files.createTempDirectory("graft_fixture_rewrite")
    graft.io.Tables.names.foreach(n =>
      Files.copy(Paths.get(sfTiny, s"$n.parquet"), fx.resolve(s"$n.parquet")))
    val dir = fx.toString
    def customerId() =
      EndToEnd.entitySchema(spark, dir, "customers")("customer_id").dataType
    assert(customerId() == LongType)
    // regenerate customer.parquet in place with c_custkey as a string
    val out = fx.resolve("customer_rewrite")
    spark.read.parquet(s"$dir/customer.parquet")
      .withColumn("c_custkey", col("c_custkey").cast("string"))
      .coalesce(1).write.parquet(out.toString)
    val part = Files.list(out).filter(_.getFileName.toString.endsWith(".parquet"))
      .findFirst().get()
    Files.move(part, fx.resolve("customer.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    graft.sources.LedgerSink.deleteRecursively(out)
    assert(customerId() == StringType)
  }
}
