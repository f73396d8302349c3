package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.orchestrate.Orchestrator
import graft.orchestrate.Orchestrator._

/** Routing parity with the reference Lambda (lambda:17-53):
  * basename-only matching, independent accumulating branches,
  * set-dedup, all-jobs default, crawl-on-success, and the
  * one-record-per-event envelope quirk. */
class OrchestratorSpec extends AnyFunSuite {

  test("only .csv keys are accepted (lambda:23)") {
    assert(Orchestrator.accepts("raw/orders/batch1.csv"))
    assert(Orchestrator.accepts("RAW/ORDERS/BATCH1.CSV"))
    assert(!Orchestrator.accepts("raw/orders/batch1.parquet"))
    assert(Orchestrator.route("x.json").isEmpty)
  }

  test("substring routing matches the BASENAME only (lambda:45)") {
    // path components never influence routing: the basename
    // "batch1.csv" matches nothing → all-jobs default, even though
    // the PATH says orders.
    assert(Orchestrator.route("raw/orders/batch1.csv") == allJobs)
    assert(Orchestrator.route("raw/inventory/data_2024.csv") == allJobs)
    // the basename carries the signal when it's in the filename
    assert(Orchestrator.route("raw/x/orders_aug.csv") ==
      Seq(SalesRevenue, DeliveryPerformance))
    assert(Orchestrator.route("products_1.csv") ==
      Seq(SalesRevenue, DeliveryPerformance))
    assert(Orchestrator.route("raw/x/feedback_q3.csv") == Seq(CustomerFeedback))
    assert(Orchestrator.route("raw/x/marketing_roi.csv") == Seq(MarketingRoi))
    assert(Orchestrator.route("raw/x/inventoryNew_1.csv") ==
      Seq(InventoryReconciliation))
    assert(Orchestrator.route("raw/customers/c.csv") == allJobs)
  }

  test("branches ACCUMULATE — lambda's independent ifs, not a chain (lambda:46-50)") {
    // order + feedback in one name → 3 jobs
    assert(Orchestrator.route("order_feedback.csv") ==
      Seq(SalesRevenue, DeliveryPerformance, CustomerFeedback))
    // all four branches at once
    assert(Orchestrator.route("order_feedback_marketing_inventory.csv") ==
      Seq(SalesRevenue, DeliveryPerformance, CustomerFeedback,
        MarketingRoi, InventoryReconciliation))
    // order AND product both fire the same branch once — deduped
    // (list(set(jobs)) in the reference, lambda:53)
    assert(Orchestrator.route("product_order_log.csv") ==
      Seq(SalesRevenue, DeliveryPerformance))
  }

  /** Jobs run concurrently, so they record into a thread-safe queue. */
  private def recorder() = new java.util.concurrent.ConcurrentLinkedQueue[Job]()
  private def ranSet(q: java.util.concurrent.ConcurrentLinkedQueue[Job]) = {
    import scala.jdk.CollectionConverters._
    q.asScala.toSet
  }

  test("a failing job is recorded and the remaining jobs still run (lambda:55-81)") {
    val ran = recorder()
    // default route → all five jobs; fail the middle one
    val (results, _) = Orchestrator.runAndCrawl("raw/customers/c.csv") { j =>
      if (j == CustomerFeedback) sys.error("bad feedback csv")
      ran.add(j): Unit
    }(_ => ())
    assert(results.map(_.job) == allJobs)
    assert(ranSet(ran) == allJobs.filterNot(_ == CustomerFeedback).toSet,
      "jobs beside the failure must still execute")
    val byJob = results.map(r => r.job -> r).toMap
    assert(byJob(CustomerFeedback).status == "failed")
    assert(byJob(CustomerFeedback).error.exists(_.contains("bad feedback csv")))
    assert(allJobs.filterNot(_ == CustomerFeedback)
      .forall(byJob(_).succeeded))
    // a failure of the FIRST routed job still leaves every job attempted
    val (attempted, _) = Orchestrator.runAndCrawl("raw/customers/c.csv") { j =>
      if (j == SalesRevenue) sys.error("boom") }(_ => ())
    assert(attempted.map(_.job) == allJobs)
  }

  test("a job exceeding its budget is recorded as timeout; later jobs run (lambda:67)") {
    val ran = recorder()
    val gate = new java.util.concurrent.CountDownLatch(1)
    val (results, _) = Orchestrator.runAndCrawl("orders_x.csv",
        timeoutSeconds = 1) { j =>
      if (j == SalesRevenue) gate.await() // never released within budget
      else ran.add(j): Unit
    }(_ => ())
    gate.countDown() // unblock the abandoned thread before asserting
    val byJob = results.map(r => r.job -> r).toMap
    assert(byJob(SalesRevenue).status == "timeout")
    assert(byJob(SalesRevenue).error.exists(_.contains("exceeded 1s")))
    assert(byJob(DeliveryPerformance).succeeded)
    assert(ranSet(ran) == Set(DeliveryPerformance))
  }

  test("crawl runs only when at least one job SUCCEEDED (lambda:31-33)") {
    // all jobs fail → no crawl (no zone changed; nothing to refresh)
    val (allFailed, noCrawlAllFailed) =
      Orchestrator.runAndCrawl("marketing_m.csv") { _ =>
        sys.error("etl failed")
      } { _ => fail("crawler must not start after an all-failed run") }
    assert(allFailed.map(_.status) == Seq("failed"))
    assert(noCrawlAllFailed.isEmpty)
    // partial success → crawl runs, and sees ONLY the succeeded jobs
    var crawled: Seq[Job] = Nil
    val (partial, crawlStatus) =
      Orchestrator.runAndCrawl("raw/customers/c.csv") { j =>
        if (j == CustomerFeedback) sys.error("bad feedback csv")
      } { jobs => crawled = jobs }
    assert(partial.count(_.succeeded) == 4)
    assert(crawlStatus.contains("succeeded"))
    assert(crawled == allJobs.filterNot(_ == CustomerFeedback))
    // non-matching key: no jobs, no crawl (lambda's early return)
    val (none, noCrawl) =
      Orchestrator.runAndCrawl("x.json")(_ => ())(_ => fail("crawled"))
    assert(none.isEmpty && noCrawl.isEmpty)
    // a crawler failure is reported, not thrown
    val (_, failedCrawl) =
      Orchestrator.runAndCrawl("marketing_m.csv")(_ => ()) {
        _ => sys.error("crawler down") }
    assert(failedCrawl.exists(_.contains("crawler down")))
  }

  test("concurrent fan-out: all jobs overlap, failures isolate, routing order kept") {
    // all five jobs must be IN FLIGHT at once: each blocks on a latch
    // that only opens when every job has arrived — a sequential runner
    // would deadlock here (and the budget would record timeouts)
    val gate = new java.util.concurrent.CyclicBarrier(5)
    val (rs, _) = Orchestrator.runAndCrawl(
      "incoming/daily_batch.csv", timeoutSeconds = 60) { j =>
      gate.await(30, java.util.concurrent.TimeUnit.SECONDS): Unit
      if (j == MarketingRoi) sys.error("boom")
    }(_ => ())
    assert(rs.map(_.job) == Orchestrator.route("incoming/daily_batch.csv"),
      "results must come back in routing order")
    assert(rs.count(_.succeeded) == 4)
    assert(rs.find(_.job == MarketingRoi).exists(_.status == "failed"))
  }

  test("each job runs on graft-orchestrator-<Job>, the crawl on graft-orchestrator-crawler") {
    val names = new java.util.concurrent.ConcurrentHashMap[String, String]()
    val (rs, crawl) = Orchestrator.runAndCrawl("order_feedback.csv") { j =>
      names.put(j.toString, Thread.currentThread().getName): Unit
    } { _ => names.put("crawl", Thread.currentThread().getName): Unit }
    assert(rs.forall(_.succeeded) && crawl.contains("succeeded"))
    import scala.jdk.CollectionConverters._
    assert(names.asScala.toMap == Map(
      "SalesRevenue" -> "graft-orchestrator-SalesRevenue",
      "DeliveryPerformance" -> "graft-orchestrator-DeliveryPerformance",
      "CustomerFeedback" -> "graft-orchestrator-CustomerFeedback",
      "crawl" -> "graft-orchestrator-crawler"))
  }

  test("multi-record event: first runnable CSV wins, rest dropped (lambda:17-38)") {
    val ran = recorder()
    val out = Orchestrator.handleEvent(Seq(
      S3Record("b", "notes.txt"),              // not csv → skipped
      S3Record("b", "feedback_day1.csv"),      // first runnable → runs
      S3Record("b", "marketing_day1.csv")))(   // DROPPED (lambda's in-loop return)
      j => ran.add(j): Unit)(_ => ())
    assert(out.statusCode == 200)
    assert(out.processed.map(_.objectKey).contains("feedback_day1.csv"))
    assert(ranSet(ran) == Set(CustomerFeedback),
      "later records in the envelope must not run")
    // partial failure → 207 (lambda:34)
    val out207 = Orchestrator.handleEvent(Seq(
      S3Record("b", "order_feedback.csv"))) { j =>
      if (j == CustomerFeedback) sys.error("boom") }(_ => ())
    assert(out207.statusCode == 207)
    assert(out207.crawlStatus.contains("succeeded"),
      "two jobs succeeded, so the crawler still runs")
    // no runnable record → 200 / nothing processed (lambda:35)
    val empty = Orchestrator.handleEvent(Seq(S3Record("b", "x.json")))(
      _ => fail("ran"))(_ => fail("crawled"))
    assert(empty == EventOutcome(200, None, Nil, None))
  }
}
