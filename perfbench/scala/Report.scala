package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

/** Folds spans, jobs and plans of the traced units into per-layer
  * figures, and writes the span trace. */
object Report {

  val OrchJobs = Seq("SalesRevenue", "DeliveryPerformance", "CustomerFeedback",
    "MarketingRoi", "InventoryReconciliation")

  /** Query-name prefix → layer, for the query workload's families. */
  val Families = Seq("dedup" -> "llm.dedup", "ann" -> "llm.similarity",
    "text" -> "llm.text", "multimodal" -> "llm.multimodal", "dsv2" -> "sources.wap")

  /** Layer of a unit's own action: its query family, else the layer
    * the unit's public entry point lives in. */
  def unitLayer(name: String): String =
    if (name == "pipeline_end_to_end") "orchestrate"
    else Families.collectFirst {
      case (p, l) if name.startsWith(p + "_") => l.stripSuffix(".wap")
    }.getOrElse("sql")

  /** Call stack and layer of every traced job; the harness's own action
    * takes the layer of the unit it runs. */
  def jobLayers(jobs: Seq[JobRec], jl: TraceListener, unitName: JobRec => String)
      : (Map[Int, Array[String]], Map[Int, String]) = {
    val framesOf = jobs.map(j => j.id -> Layers.frames(j, jl.execs)).toMap
    val layerOf = jobs.map(j => j.id -> (Layers.layer(framesOf(j.id)) match {
      case "action" => unitLayer(unitName(j))
      case l => l
    })).toMap
    (framesOf, layerOf)
  }

  /** The unit span at or above span `id`. */
  def unitOf(byId: Map[Long, Span])(id: Long): Option[Span] = {
    var cur = byId.get(id)
    while (cur.exists(_.kind != "unit")) cur = cur.flatMap(c => byId.get(c.parent))
    cur
  }

  /** Wall covered by the union of the intervals. */
  def busyMs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    iv.filter(x => x._2 >= x._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    total + (curE - curS)
  }

  /** Per-layer figures of the traced units: per unit of work (a drop or
    * a query) unless the name says otherwise. */
  def layers(pass: Seq[PerfBench.Step], units: Seq[PerfBench.Unit_],
      tracer: Tracer, jl: TraceListener, rawBytes: Long): Seq[(String, Double)] = {
    val spans = tracer.spans.asScala.toSeq
    val byId = spans.map(s => s.id -> s).toMap
    val traced = units.filter(_.traced)
    val tracedIds = traced.map(_.spanId).toSet
    def tracedUnit(id: Long): Option[Long] =
      unitOf(byId)(id).map(_.id).filter(tracedIds.contains)
    val jobs = jl.jobs.values.asScala.toSeq
    val (framesOf, layerOf) = jobLayers(jobs, jl,
      j => unitOf(byId)(j.span).map(_.name).getOrElse(""))
    def has(j: JobRec, needle: String) = Layers.has(framesOf(j.id), needle)
    val jobsByUnit = jobs.flatMap(j => tracedUnit(j.span).map(_ -> j)).groupBy(_._1)
      .map { case (u, xs) => u -> xs.map(_._2) }
    val n = math.max(1, traced.size).toDouble
    val tj = jobsByUnit.values.flatten.toSeq
    def perUnit(f: JobRec => Double): Double = tj.map(f).sum / n
    def kindWall(kind: String): Double =
      spans.filter(s => s.kind == kind && tracedUnit(s.id).isDefined)
        .map(s => (s.end - s.start) / 1e3).sum / n
    def spanKind(j: JobRec): String = byId.get(j.span).map(_.kind).getOrElse("")
    def busyWhere(p: JobRec => Boolean): Double =
      jobsByUnit.values.map(js => busyMs(js.filter(p).map(j => (j.start, j.end)))).sum / 1e3 / n
    val execIds = tj.map(_.execId).filter(_ >= 0).distinct
    val plans = execIds.flatMap(e => Option(jl.plans.get(e)))
    val unitSpans = traced.flatMap(u => byId.get(u.spanId))
    val lives = ThreadWatch.lives.asScala.toSeq.filter(l =>
      l.end >= 0 && unitSpans.exists(s => l.start >= s.start && l.start <= s.end))
    def life(tag: String): Double =
      lives.filter(_.name == tag).map(l => (l.end - l.start) / 1e3).sum / n
    val rawIn = rawBytes.toDouble * traced.count(_.name == "pipeline_end_to_end")
    // query families: seconds per traced pass
    val passes = math.max(1.0, traced.size.toDouble / pass.size)
    val family = Families.map { case (prefix, name) =>
      s"${name}_s" -> traced.filter(_.name.startsWith(prefix + "_")).map(_.latS).sum / passes
    }
    val untracedLat = units.filter(u => !u.traced && u.ok).map(_.latS)
    val tracedLat = traced.filter(_.ok).map(_.latS)

    Seq(
      "driver_s" -> kindWall("build"),
      "plan_s" -> kindWall("plan"),
      "exec_s" -> kindWall("execute"),
      "jobs" -> tj.size / n,
      "eager_jobs" -> tj.count(j => spanKind(j) == "build") / n,
      "ops.cut_jobs" -> tj.count(j => layerOf(j.id) == "ops") / n,
      "stages" -> perUnit(_.stages),
      "tasks" -> perUnit(_.tasks.toDouble),
      "task_s" -> perUnit(_.runMs / 1e3),
      "task_cpu_s" -> perUnit(_.cpuNs / 1e9),
      "gc_s" -> perUnit(_.gcMs / 1e3),
      "sched_wait_s" -> tj.map(_.waitMs).sum / 1e3 / math.max(1L, tj.map(_.tasks).sum),
      "sh_mb" -> perUnit(_.shWrite / 1048576.0),
      "spill_mb" -> perUnit(_.spill / 1048576.0),
      "peak_mb" -> (if (tj.isEmpty) 0.0 else tj.map(_.peak).max / 1048576.0),
      "plan_nodes" -> plans.map(_.nodes).sum / n,
      "catalyst_s" -> plans.map(_.catalystMs).sum / 1e3 / n,
      "exchanges" -> plans.map(_.exchanges).sum / n,
      "sp_windows" -> plans.map(_.spWindows).sum / n,
      "nl_joins" -> plans.map(_.nlJoins).sum / n,
      "plancache.hit_ratio" -> (if (plans.isEmpty) 0.0
        else plans.count(_.cached).toDouble / plans.size),
      "io.read_s" -> perUnit(_.readTaskMs / 1e3),
      "io.read_mb" -> perUnit(_.inBytes / 1048576.0),
      "io.write_s" -> perUnit(_.writeTaskMs / 1e3),
      "io.write_mb" -> perUnit(_.outBytes / 1048576.0),
      "io.write_files" -> plans.map(_.files).sum / n,
      "io.stored_bytes_per_input_byte" ->
        (if (rawIn > 0) tj.map(_.outBytes).sum / rawIn else 0.0),
      "io.catalog_s" -> life("crawler"),
      "curated.agg_s" -> busyWhere(has(_, "Writers$.curated")),
      "sql.athena_s" -> busyWhere(has(_, "concurrentSummaryUnion")),
      "orchestrate.self_s" -> (unitSpans.map { s =>
        (s.end - s.start) - busyMs(jobsByUnit.getOrElse(s.id, Seq.empty).map(j => (j.start, j.end)))
      }.sum / 1e3 / n),
      "unattributed_share" -> (if (tj.isEmpty) 0.0
        else tj.count(j => layerOf(j.id) == "unattributed").toDouble / tj.size),
      "trace_overhead_s" -> (PerfBench.quantile(tracedLat, 0.5) -
        PerfBench.quantile(untracedLat, 0.5))
    ) ++ OrchJobs.map(j => s"pipelines.${j}_s" -> life(j)) ++ family
  }

  /** `trace.jsonl`: one JSON line per span, with the listener's counts
    * (a unit span counts every job under it); `jobs.jsonl`: one line per
    * traced job with its layer and the head of its call stack. */
  def writeTrace(dir: Path, tracer: Tracer, jl: TraceListener, runId: String): Unit = {
    val jobs = jl.jobs.values.asScala.toSeq
    val byId = tracer.spans.asScala.map(s => s.id -> s).toMap
    val (framesOf, layerOf) = jobLayers(jobs, jl,
      j => unitOf(byId)(j.span).map(_.name).getOrElse(""))
    val perSpan = jobs.groupBy(j => j.span)
    val perUnit = jobs.groupBy(j => unitOf(byId)(j.span).map(_.id).getOrElse(-1L))
    val lines = tracer.spans.asScala.toSeq.sortBy(_.id).map { s =>
      val own = perSpan.getOrElse(s.id, Seq.empty)
      val under = if (s.kind == "unit") perUnit.getOrElse(s.id, Seq.empty) else own
      val layers = under.groupBy(j => layerOf(j.id)).map { case (l, js) =>
        Json.str(l) + ":" + js.size }.mkString("{", ",", "}")
      s"""{"run":${Json.str(runId)},"id":${s.id},"name":${Json.str(s.name)},"kind":${Json.str(s.kind)},""" +
        s""""parent":${s.parent},"iter":${s.iter},"traced":${s.traced},"start":${s.start},"end":${s.end},""" +
        s""""jobs":${under.size},"own_jobs":${own.size},"stages":${under.map(_.stages).sum},""" +
        s""""tasks":${under.map(_.tasks).sum},"task_s":${under.map(_.runMs).sum / 1e3},""" +
        s""""sh_mb":${under.map(_.shWrite).sum / 1048576.0},"spill_mb":${under.map(_.spill).sum / 1048576.0},""" +
        s""""layers":$layers}"""
    }
    Files.write(dir.resolve("trace.jsonl"), lines.asJava)
    Files.write(dir.resolve("jobs.jsonl"), jobs.sortBy(_.id).map { j =>
      s"""{"job":${j.id},"span":${j.span},"layer":${Json.str(layerOf(j.id))},""" +
        s""""orch":${Json.str(j.orch)},"exec":${j.execId},"start":${j.start},"end":${j.end},""" +
        s""""tasks":${j.tasks},"frames":${Json.arr(framesOf(j.id).take(6).toSeq.map(Json.str))}}"""
    }.asJava)
  }
}
