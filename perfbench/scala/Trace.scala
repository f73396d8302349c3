package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.perfbench.SqlEvents

/** One timed region. `kind` is one of run / iter / unit / build / plan /
  * execute; times are epoch millis (Spark's listener clock). */
final case class Span(id: Long, name: String, kind: String, parent: Long,
    iter: Int, traced: Boolean, start: Long, end: Long)

/** Spans kept in memory and written once at the end. The id of the
  * innermost open span rides on a Spark local property, so every job a
  * span submits (also from threads it starts: orchestrator jobs,
  * `inParallel` pools, broadcast threads) carries it. */
final class Tracer(sc: SparkContext) {
  val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0)

  /** Jobs of spans opened while this is set carry `perfbench.traced`,
    * the mark the job listener records by. */
  @volatile var traced = false

  def apply[A](name: String, kind: String, parent: Long, iter: Int)(
      f: Long => A): (A, Span) = {
    val id = ids.incrementAndGet()
    val prev = sc.getLocalProperty(Tracer.Prop)
    sc.setLocalProperty(Tracer.Prop, id.toString)
    sc.setLocalProperty(Tracer.TracedProp, if (traced) "1" else null)
    val t0 = System.currentTimeMillis()
    try {
      val a = f(id)
      val s = Span(id, name, kind, parent, iter, traced, t0, System.currentTimeMillis())
      spans.add(s)
      (a, s)
    } finally sc.setLocalProperty(Tracer.Prop, prev)
  }
}

object Tracer {
  val Prop = "perfbench.span"
  val TracedProp = "perfbench.traced"
  val OrchProp = "perfbench.orch"
}

/** Everything the listener learns about one Spark job. */
final class JobRec(val id: Int, val start: Long, val span: Long,
    val orch: String, val execId: Long, val frames: Array[String]) {
  @volatile var end: Long = -1L
  var stages = 0
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var waitMs = 0L
  var shWrite = 0L
  var spill = 0L
  var peak = 0L
  var inBytes = 0L
  var outBytes = 0L
  var readTaskMs = 0L
  var writeTaskMs = 0L
}

/** Per-job, per-stage and per-task accounting of the jobs submitted
  * under traced spans, and the call stack and plan shape of every SQL
  * execution. Jobs are kept whole and attributed after the run, when
  * every span has closed. */
final class TraceListener extends SparkListener {
  val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
  /** execution id → (root execution id, call stack of its action) */
  val execs = new java.util.concurrent.ConcurrentHashMap[Long, (Long, Array[String])]()
  val plans = new java.util.concurrent.ConcurrentHashMap[Long, PlanRec]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
  private val stageSubmit = new java.util.concurrent.ConcurrentHashMap[Int, Long]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
    if (prop(Tracer.TracedProp).contains("1")) record(e, prop)
  }

  private def record(e: SparkListenerJobStart, prop: String => Option[String]): Unit = {
    val last = if (e.stageInfos.isEmpty) None else Some(e.stageInfos.maxBy(_.stageId))
    val frames = last.map(_.details.split("\n")).getOrElse(Array.empty[String])
    val rec = new JobRec(e.jobId, e.time,
      prop(Tracer.Prop).map(_.toLong).getOrElse(0L),
      prop(Tracer.OrchProp).getOrElse(""),
      prop("spark.sql.execution.id").map(_.toLong).getOrElse(-1L), frames)
    rec.stages = e.stageInfos.size
    jobs.put(e.jobId, rec)
    e.stageInfos.foreach(s => stageJob.putIfAbsent(s.stageId, rec))
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      execs.put(s.executionId,
        (s.rootExecutionId.getOrElse(s.executionId), s.details.split("\n")))
    case end: SparkListenerSQLExecutionEnd =>
      try SqlEvents.queryExecution(end).foreach(qe => plans.put(end.executionId, PlanStats(qe)))
      catch { case scala.util.control.NonFatal(_) => () }
    case _ => ()
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.end = e.time)

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    stageSubmit.put(e.stageInfo.stageId,
      e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis()))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageJob.get(e.stageId)).foreach { r =>
      val m = e.taskMetrics
      r.synchronized {
        r.tasks += 1
        val sub = stageSubmit.getOrDefault(e.stageId, e.taskInfo.launchTime)
        r.waitMs += math.max(0L, e.taskInfo.launchTime - sub)
        if (m != null) {
          r.runMs += m.executorRunTime
          r.cpuNs += m.executorCpuTime
          r.gcMs += m.jvmGCTime
          r.shWrite += m.shuffleWriteMetrics.bytesWritten
          r.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          r.peak = math.max(r.peak, m.peakExecutionMemory)
          r.inBytes += m.inputMetrics.bytesRead
          r.outBytes += m.outputMetrics.bytesWritten
          if (m.inputMetrics.bytesRead > 0) r.readTaskMs += m.executorRunTime
          if (m.outputMetrics.bytesWritten > 0) r.writeTaskMs += m.executorRunTime
        }
      }
    }
}

/** Plan shape and Catalyst phase times of one SQL execution, keyed by
  * execution id (which the jobs carry, so a plan finds its span). */
final case class PlanRec(nodes: Int, exchanges: Int, spWindows: Int,
    nlJoins: Int, cached: Boolean, files: Long, catalystMs: Long)

object PlanStats {
  /** Every physical node once: AQE wrappers and query stages unwrapped,
    * subqueries included. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = {
    val out = mutable.ArrayBuffer[SparkPlan]()
    def walk(n: SparkPlan): Unit = n match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case s: QueryStageExec => walk(s.plan)
      case r: ReusedExchangeExec => out += r
      case other =>
        out += other
        other.children.foreach(walk)
        other.subqueries.foreach(walk)
    }
    walk(p)
    out.toSeq
  }

  def apply(qe: QueryExecution): PlanRec = {
    val ns = nodes(qe.executedPlan)
    val files = ns.flatMap(_.metrics.get("numFiles")).map(_.value).sum
    val ms = qe.tracker.phases.values.map(_.durationMs).sum
    PlanRec(ns.size,
      ns.count(n => n.isInstanceOf[ShuffleExchangeLike] || n.isInstanceOf[BroadcastExchangeLike]),
      ns.count { case w: WindowExec => w.partitionSpec.isEmpty; case _ => false },
      ns.count(n => n.isInstanceOf[BroadcastNestedLoopJoinExec] || n.isInstanceOf[CartesianProductExec]),
      ns.exists(_.isInstanceOf[InMemoryTableScanExec]), files, ms)
  }
}

/** Job → layer attribution from call stacks (Spark's long call-site
  * form): the first `graft.` frame that triggered the job. A job run from
  * Spark's own threads (AQE stages, broadcasts) has no graft frame; it
  * takes the stack of its SQL execution's action (or of the root
  * execution's), recorded on the thread that ran the action. What is
  * still without a graft frame is `unattributed`; the harness's own
  * actions are `action`. */
object Layers {
  private val Frame = """^\s*(?:at\s+)?([\w$.]+)\.([\w$<>]+)\(""".r.unanchored

  private def cls(f: String): Option[String] = f match {
    case Frame(c, _) => Some(c)
    case _ => None
  }

  def ofClass(c: String): String = {
    val parts = c.split('.')
    if (parts.length <= 2) "graft"
    else parts(1) match {
      case "llm" => "llm." + (parts(2).takeWhile(_ != '$') match {
        case "Dedup" => "dedup"
        case "Similarity" | "Retrieval" | "Quantize" => "similarity"
        case "TextAnalysis" | "LanguageModel" => "text"
        case "Multimodal" | "MediaCodec" | "JpegCodec" | "GifCodec" | "FlacCodec" => "multimodal"
        case other => other.toLowerCase
      })
      case pkg => pkg
    }
  }

  private def direct(frames: Array[String]): Option[String] =
    frames.iterator.flatMap(cls).collectFirst {
      case c if c.startsWith("graft.") => ofClass(c)
      case c if c.startsWith("perfbench.") => "action"
    }

  /** The stack that explains the job: its own, else its execution's. */
  def frames(j: JobRec, execs: java.util.Map[Long, (Long, Array[String])]): Array[String] =
    if (direct(j.frames).isDefined || j.execId < 0) j.frames
    else Option(execs.get(j.execId)).map { case (root, f) =>
      if (direct(f).isDefined) f
      else Option(execs.get(root)).map(_._2).filter(direct(_).isDefined).getOrElse(j.frames)
    }.getOrElse(j.frames)

  def layer(frames: Array[String]): String = direct(frames).getOrElse("unattributed")

  def has(frames: Array[String], needle: String): Boolean =
    frames.exists(_.contains(needle))
}

/** Lifetime of the orchestrator's per-job threads (`graft-orchestrator-*`),
  * seen from the first plan each analyses. Also tags the thread's jobs
  * with the orchestrated job's name. */
object ThreadWatch {
  /** `end` is set by the watcher thread once the watched thread ends. */
  final class Life(val name: String, val start: Long) { @volatile var end = -1L }
  val lives = new ConcurrentLinkedQueue[Life]()
  private val seen = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[Thread, Life]())
  @volatile var enabled = false

  def touch(sc: SparkContext): Unit = if (enabled) {
    val t = Thread.currentThread()
    val n = t.getName
    if (n.startsWith("graft-orchestrator-") && !seen.containsKey(t)) {
      val tag = n.stripPrefix("graft-orchestrator-").stripPrefix("job ")
        .stripPrefix("fanout-")
      val l = new Life(tag, System.currentTimeMillis())
      seen.put(t, l); lives.add(l)
      sc.setLocalProperty(Tracer.OrchProp, tag)
      val w = new Thread(() => { t.join(); l.end = System.currentTimeMillis() },
        s"perfbench-watch-$tag")
      w.setDaemon(true); w.start()
    }
  }
}
