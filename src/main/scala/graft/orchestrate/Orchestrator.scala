package graft.orchestrate

import scala.util.{Failure, Success, Try}

/** In-process replacement for the reference's event-driven
  * orchestration (S3 ObjectCreated → Lambda → sequential Glue jobs →
  * crawler refresh; `lambda/blinkit-etl-orchestrator.py`).
  *
  * Routing reproduces `determine_jobs_to_run` (lambda:44-53) exactly:
  * the match runs against the BASENAME only (`file_key.split('/')[-1]`
  * lowercased — so `raw/orders/batch1.csv` matches nothing and falls
  * through to the all-jobs default), the four branches are INDEPENDENT
  * accumulating `if`s (not a first-match chain — `order_feedback.csv`
  * runs sales + delivery + feedback), the result is set-deduped, and
  * an empty match defaults to every configured job. Only `.csv`
  * objects trigger anything (lambda:23). One deliberate refinement:
  * the reference's `list(set(jobs))` leaves job ORDER unspecified
  * (CPython hash order); we dedup preserving first-mention order so
  * runs are reproducible — the job SET is identical.
  *
  * Instead of start_job_run + 20 s polling (lambda:55-81), pipelines
  * run as function calls inside one SparkSession — the process/cluster
  * boundary collapses into Spark's own driver/executor split, and the
  * "crawler refresh" becomes temp-view (re)registration, which is
  * metadata-only.
  */
object Orchestrator {

  sealed trait Job
  case object SalesRevenue extends Job
  case object DeliveryPerformance extends Job
  case object CustomerFeedback extends Job
  case object MarketingRoi extends Job
  case object InventoryReconciliation extends Job

  val allJobs: Seq[Job] = Seq(
    SalesRevenue, DeliveryPerformance, CustomerFeedback,
    MarketingRoi, InventoryReconciliation)

  /** lambda:17-26 — only .csv object events are processed. */
  def accepts(objectKey: String): Boolean =
    objectKey.toLowerCase.endsWith(".csv")

  /** lambda:44-53 — basename-substring routing with ACCUMULATING
    * branches: every matching `if` contributes its jobs (a file named
    * `order_feedback.csv` routes to sales + delivery + feedback), the
    * list is deduped (`list(set(jobs))` in the reference; here
    * `.distinct` preserving first-mention order — duplicates cannot in
    * fact arise because each branch fires at most once, the dedup is a
    * faithful guard), and no match at all → ALL jobs. The match key is
    * the basename only: `file_key.split('/')[-1].lower()`, so path
    * components like `raw/orders/` never influence routing. */
  def route(objectKey: String): Seq[Job] = {
    if (!accepts(objectKey)) Seq.empty
    else {
      val name = objectKey.split('/').last.toLowerCase
      val jobs = Seq.newBuilder[Job]
      if (name.contains("order") || name.contains("product"))
        jobs ++= Seq(SalesRevenue, DeliveryPerformance)
      if (name.contains("feedback")) jobs += CustomerFeedback
      if (name.contains("marketing")) jobs += MarketingRoi
      if (name.contains("inventory")) jobs += InventoryReconciliation
      val matched = jobs.result().distinct
      if (matched.isEmpty) allJobs else matched
    }
  }

  /** Reference per-job time budgets (lambda:67 — 600 s max_wait per
    * Glue job poll; lambda:90 — 300 s crawler wait). */
  val jobTimeoutSeconds: Long = 600
  val crawlTimeoutSeconds: Long = 300

  /** Outcome of one job inside a run — mirrors the reference's
    * per-job `results[job_key]` record (lambda:55-81): the lambda
    * wraps EACH start_job_run/poll in its own try/except, records
    * succeeded / failed / timeout, and CONTINUES to the next job, so
    * one bad input file never takes down the unrelated pipelines. */
  final case class JobResult(job: Job, status: String,
      error: Option[String]) {
    def succeeded: Boolean = status == "succeeded"
  }

  /** Run the routed jobs and then the crawl — the reference's unit of
    * work, with its isolation semantics: each job runs under its own
    * try/except AND the 600 s budget (lambda:55-81); a failure or
    * timeout is recorded and never stops a sibling. Timeout parity
    * note: the lambda stops *polling* a Glue job at 600 s and moves on
    * — the remote job may still be running. The in-process equivalent
    * is the same contract: the job thread is abandoned (never killed —
    * interrupting a mid-shuffle Spark action would poison the shared
    * session) and its result records `timeout`, so `runJob` must be
    * idempotent on re-run like the reference's jobs.
    *
    * The routed jobs run CONCURRENTLY, each on its own thread
    * `graft-orchestrator-<Job>` — a documented semantics-preserving
    * deviation from the reference's sequential loop (lambda:58-61;
    * SURVEY §4.3): the five jobs are independent by construction (each
    * reads only the raw zone and writes its OWN processed/curated
    * prefix, exactly like the Glue jobs), and on a cluster they are
    * five Glue jobs running at once, which is how five simultaneous S3
    * events would launch them. Spark's scheduler interleaves their
    * actions across the executor pool. Each budget starts at fan-out,
    * and results come back in ROUTING order.
    *
    * Then the catalog-refresh step (`crawl` is typically
    * `graft.io.Catalog` registration over the zones the jobs wrote):
    * the lambda starts the crawler ONLY when at least one job succeeded
    * (`if len(successful) > 0`, lambda:31-33) — an all-failed run
    * leaves the catalog untouched, because there is no fresh zone to
    * refresh. `crawl` receives only the SUCCEEDED jobs, runs on
    * `graft-orchestrator-crawler` under its own 300 s budget, and its
    * outcome is recorded, never thrown (`start_and_wait_crawler`,
    * lambda:84-97). */
  def runAndCrawl(objectKey: String, timeoutSeconds: Long = jobTimeoutSeconds)(
      runJob: Job => Unit)(
      crawl: Seq[Job] => Unit): (Seq[JobResult], Option[String]) = {
    val jobs = route(objectKey)
    val results = jobs.zip(fanOut(jobs.map(j => () => runJob(j)), jobs.size,
        i => s"graft-orchestrator-${jobs(i)}", Some(timeoutSeconds)))
      .map { case (job, outcome) =>
        JobResult(job, outcome match {
            case None => "timeout"
            case Some(Success(_)) => "succeeded"
            case Some(Failure(_)) => "failed"
          }, describe(outcome, s"job $job", timeoutSeconds))
      }
    val succeeded = results.filter(_.succeeded).map(_.job)
    val crawlStatus =
      if (succeeded.isEmpty) None
      else Some(describe(fanOut(Seq(() => crawl(succeeded)), 1,
          _ => "graft-orchestrator-crawler", Some(crawlTimeoutSeconds)).head,
        "crawler", crawlTimeoutSeconds).getOrElse("succeeded"))
    (results, crawlStatus)
  }

  /** None on success, else the failure or timeout message. */
  private def describe(outcome: Option[Try[Unit]], what: String,
      timeoutSeconds: Long): Option[String] = outcome match {
    case Some(Success(_)) => None
    case Some(Failure(e)) =>
      Some(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage)}")
    case None => Some(s"timeout: $what exceeded ${timeoutSeconds}s budget")
  }

  /** One S3 ObjectCreated record inside an event envelope
    * (`event['Records'][i]['s3']`, lambda:20-22). */
  final case class S3Record(bucket: String, objectKey: String)

  /** Outcome of one event envelope, mirroring the lambda's HTTP-shaped
    * return: 200 all-success or no-CSV, 207 partial failure
    * (lambda:34). `processed` is the one record that ran (None when
    * every record was skipped). */
  final case class EventOutcome(statusCode: Int, processed: Option[S3Record],
      results: Seq[JobResult], crawlStatus: Option[String])

  /** Multi-record event entry point, mirroring `lambda_handler`
    * (lambda:17-38) exactly — including its sharpest edge: the
    * `return` statement sits INSIDE the record loop, so the lambda
    * processes AT MOST ONE CSV record per event. Records are scanned
    * in order; non-`.csv` keys are skipped (lambda:23-25); the first
    * record that routes to a non-empty job list runs its jobs, crawls
    * if any succeeded, and ends the event (lambda:26-34). Later
    * records in the same envelope are silently dropped — that is the
    * reference's behavior, preserved here because a replayer of real
    * S3 notification batches must see identical processing decisions.
    * An envelope with no runnable CSV returns 200/"No CSV files"
    * (lambda:35). */
  def handleEvent(records: Seq[S3Record])(runJob: Job => Unit)(
      crawl: Seq[Job] => Unit): EventOutcome = {
    records.iterator
      .filter(r => accepts(r.objectKey) && route(r.objectKey).nonEmpty)
      .nextOption() match {
      case Some(rec) =>
        val (results, crawlStatus) =
          runAndCrawl(rec.objectKey)(runJob)(crawl)
        val code = if (results.forall(_.succeeded)) 200 else 207
        EventOutcome(code, Some(rec), results, crawlStatus)
      case None => EventOutcome(200, None, Nil, None)
    }
  }

  /** The one way graft.orchestrate runs work on other threads: each
    * task gets a fresh daemon thread `name(i)` that ends with its task,
    * started by the calling thread (so it inherits the caller's Spark
    * local properties), with at most `width` running at once. Waits
    * until every task has ended, or, under a `budgetSeconds`, until
    * that budget has passed since the task started, and returns the
    * outcomes in task order: `None` for a task still running at its
    * budget — abandoned, never interrupted (see [[runAndCrawl]]).
    * Without a budget the enclosing job's budget bounds the wait, and
    * a failed task never leaves a sibling running behind it. */
  private[graft] def fanOut[A](tasks: Seq[() => A], width: Int,
      name: Int => String,
      budgetSeconds: Option[Long] = None): Seq[Option[Try[A]]] = {
    val slots = new java.util.concurrent.Semaphore(math.max(1, width))
    val outcomes =
      new java.util.concurrent.atomic.AtomicReferenceArray[Try[A]](tasks.size)
    val started = tasks.zipWithIndex.map { case (task, i) =>
      slots.acquire()
      val t = new Thread(() =>
        try outcomes.set(i,
          try Success(task()) catch { case e: Throwable => Failure(e) })
        finally slots.release(), name(i))
      t.setDaemon(true)
      t.start()
      t -> System.nanoTime()
    }
    started.zipWithIndex.map { case ((t, t0), i) =>
      budgetSeconds match {
        case None => t.join()
        case Some(b) =>
          val leftMs = (t0 + b * 1000000000L - System.nanoTime()) / 1000000L
          if (leftMs > 0) t.join(leftMs)
      }
      Option(outcomes.get(i))
    }
  }
}
