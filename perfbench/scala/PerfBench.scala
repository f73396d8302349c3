package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.SparkEntry
import graft.orchestrate.EndToEnd

/** The benchmark's JVM side: one `local[cpus]` session with graft.Bench's
  * conf, one workload, an untimed set-up, a closed loop for `seconds`,
  * then `result.json` (and `trace.jsonl` when tracing) in `outDir`.
  *
  * A unit of work is one drop (`drop_to_dashboard`) or one registered
  * query (`query_mix`). Every unit runs as three nested spans — build
  * (the public builder call), plan (forcing `executedPlan`) and execute
  * (the action) — under an iteration span, all under one run span.
  *
  * Outputs are checked outside the timed window: drop summaries by the
  * Python runner against the DuckDB oracle; query results here against
  * the set-up pass's result, which the runner checks against the oracle.
  *
  * Usage: PerfBench <workload> <outDir> <seconds> <trace 0|1> <fixtureDir>
  */
object PerfBench {

  /** One entry of a workload's pass: a registered query (or the drop)
    * and whether it runs in the warm session (PlanCache on) or the cold
    * one (PlanCache off). */
  final case class Step(name: String, warm: Boolean)

  /** `query_mix`: the LLM-curation chain in the cold session, where
    * every query builds its prefixes (eager cuts, probes) from scratch,
    * interleaved with dashboard queries and a ledger write-audit-publish
    * in the warm session, where PlanCache serves the shared prefixes. */
  val QueryPass: Seq[Step] = Seq(
    Step("dedup_simhash_pairs", warm = false), Step("q_campaign_roi", warm = true),
    Step("ann_cosine_topk", warm = false), Step("sales_rollup", warm = true),
    Step("text_top_terms", warm = false), Step("dsv2_wap_publish", warm = true),
    Step("multimodal_ahash", warm = false))

  /** Seconds of `--seconds` budgeted per pass. The window runs
    * `round(seconds / PassSeconds)` whole passes, at least one, so every
    * run of a workload measures the same work and none ends on a partial
    * pass. On a 4-core host a drop takes 9–15 s and a query pass 7–10 s;
    * at `--seconds 20` a whole run, set-up included, stays near a minute. */
  val PassSeconds = 10.0

  val DropPass: Seq[Step] = Seq(Step("pipeline_end_to_end", warm = true))

  final case class Unit_(iter: Int, pass: Int, name: String, latS: Double,
      traced: Boolean, ok: Boolean, err: String,
      rows: Seq[Seq[Any]], spanId: Long)

  def main(args: Array[String]): Unit = {
    val Array(workload, outArg, secArg, traceArg, dir) = args
    val out = Paths.get(outArg)
    val seconds = secArg.toDouble
    val trace = traceArg == "1"
    val drop = workload match {
      case "drop_to_dashboard" => true
      case "query_mix" => false
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val pass = if (drop) DropPass else QueryPass
    val cpus = Runtime.getRuntime.availableProcessors
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    Files.createDirectories(out)

    val conf = Seq(
      "spark.sql.shuffle.partitions" -> cpus.toString,
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false",
      "spark.executor.heartbeatInterval" -> "20s",
      "spark.executor.heartbeat.maxFailures" -> "10000",
      "spark.network.timeout" -> "600s",
      "spark.rpc.askTimeout" -> "600s",
      "spark.graft.cachePrefixes" -> "true",
      "spark.graft.featureTableDir" ->
        s"${System.getProperty("java.io.tmpdir")}/graft_feature_tables")
    val b = SparkSession.builder().master(s"local[$cpus]")
    conf.foreach { case (k, v) => b.config(k, v) }
    if (trace) b.withExtensions(_.injectCheckRule(s => _ => ThreadWatch.touch(s.sparkContext)))
    val spark = b.getOrCreate()
    val sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    val warm = spark.newSession()
    val cold = spark.newSession()
    cold.conf.set("spark.graft.cachePrefixes", "false")
    val tracer = new Tracer(sc)
    val jobsL = new TraceListener
    def tracing(on: Boolean): Unit = { tracer.traced = on; ThreadWatch.enabled = on }
    if (trace) sc.addSparkListener(jobsL)
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1e3
    val sentinel0 = Sentinel(spark, cpus)

    def build(step: Step): DataFrame = {
      val s = if (step.warm) warm else cold
      if (drop) EndToEnd.pipelineEndToEnd(s, dir) else SparkEntry.queries(step.name)(s, dir)
    }

    // ---- set-up: stage the drop's raw CSV zone, then one untimed pass
    // (JIT, PlanCache fill); its results are the reference the timed
    // results must equal, and what the oracle checks
    val t0 = System.nanoTime()
    val rawZone = if (drop) EndToEnd.stageRawZone(spark, dir) else ""
    val stageS = (System.nanoTime() - t0) / 1e9
    val expect = mutable.Map[String, Int]()
    val warmErr = mutable.Map[String, String]()
    val warmSteps = pass.map { step =>
      val w0 = System.nanoTime()
      try {
        val df = build(step)
        val rows = df.collect()
        expect(step.name) = fingerprint(rows)
        if (!drop) spark.createDataFrame(sc.parallelize(rows.toSeq, 1), df.schema)
          .write.mode("overwrite").parquet(out.resolve("check").resolve(step.name).toString)
      } catch { case e: Throwable => warmErr(step.name) = e.toString.take(300) }
      step.name -> (System.nanoTime() - w0) / 1e9
    }
    gc()
    val warmS = (System.nanoTime() - t0) / 1e9 - stageS
    val setupS = sessionS + stageS + warmS

    // ---- timed window: a fixed number of whole passes in a closed loop
    // (at least three when tracing: traced runs alternate untraced and
    // traced passes, so the same run also gives the tracing overhead)
    val passes = math.max(if (trace) 3 else 1, math.round(seconds / PassSeconds).toInt)
    val units = mutable.ArrayBuffer[Unit_]()
    val (_, runSpan) = tracer("run", "run", 0L, -1) { runId =>
      for (p <- 0 until passes) {
        tracing(trace && p % 2 == 1)
        pass.zipWithIndex.foreach { case (step, j) =>
          val i = p * pass.size + j
          val s0 = System.nanoTime()
          val (res, us) = tracer(s"iter$i", "iter", runId, i) { iterId =>
            tracer(step.name, "unit", iterId, i) { unitId =>
              try {
                val (df, _) = tracer("build", "build", unitId, i)(_ => build(step))
                tracer("plan", "plan", unitId, i)(_ => df.queryExecution.executedPlan)
                Right(tracer("execute", "execute", unitId, i)(_ => df.collect())._1)
              } catch { case e: Throwable => Left(e.toString.take(300)) }
            }
          }._1
          val lat = (System.nanoTime() - s0) / 1e9
          val traced = trace && p % 2 == 1
          units += (res match {
            case Right(rows) =>
              val same = expect.get(step.name).contains(fingerprint(rows))
              Unit_(i, p, step.name, lat, traced, same,
                if (same) "" else "result differs from the set-up pass",
                if (drop) rows.toSeq.map(_.toSeq) else Seq.empty, us.id)
            case Left(err) => Unit_(i, p, step.name, lat, traced, false, err, Seq.empty, us.id)
          })
          if (drop) gc()
        }
      }
    }
    tracing(false)
    val windowS = (runSpan.end - runSpan.start) / 1e3
    val heapMb = retainedHeapMb()
    val sentinel1 = Sentinel(spark, cpus)
    if (trace) org.apache.spark.GraftCoreBridge.drainListenerBus(sc)

    val all = units.toSeq
    // a traced run reports its end-to-end figures from the untraced units
    // latency is per pass: one drop, or the whole query mix, so the
    // median does not jump between query types from run to run
    val timed = all.filter(u => !u.traced && u.ok)
    val passLats = timed.groupBy(_.pass).values.map(_.map(_.latS).sum).toSeq
    val e2e = Seq(
      "setup_s" -> setupS,
      "latency_p50_s" -> quantile(passLats, 0.5),
      "throughput_per_s" -> timed.size / timed.map(_.latS).sum,
      "retained_heap_mb" -> heapMb)
    val rawBytes = if (drop) dirBytes(rawZone) else 0L
    val layers = if (trace) Report.layers(pass, all, tracer, jobsL, rawBytes)
      else Seq.empty

    val oracle = (if (drop) Seq("pipeline_end_to_end" -> EndToEnd.pipelineEndToEndOracle)
      else { val sql = SparkEntry.oracleSql; pass.map(s => s.name -> sql(s.name)) })
    def obj(kv: Seq[(String, String)]) =
      kv.map { case (k, v) => Json.str(k) + ":" + v }.mkString("{", ",", "}")
    val json = obj(Seq(
      "workload" -> Json.str(workload),
      "cpus" -> cpus.toString,
      "trace" -> trace.toString,
      "fixture" -> Json.str(dir),
      "window_s" -> windowS.toString,
      "session_s" -> sessionS.toString,
      "stage_s" -> stageS.toString,
      "warm_s" -> warmS.toString,
      "warm_steps_s" -> obj(warmSteps.map { case (k, v) => k -> v.toString }),
      "raw_zone_bytes" -> rawBytes.toString,
      "sentinel" -> obj(Seq("cpu_s" -> sentinel0._1, "io_s" -> sentinel0._2,
        "cpu_s_end" -> sentinel1._1, "io_s_end" -> sentinel1._2).map(kv => kv._1 -> kv._2.toString)),
      "jvm" -> Json.arr(java.lang.management.ManagementFactory.getRuntimeMXBean
        .getInputArguments.asScala.toSeq.map(Json.str)),
      "conf" -> obj(conf.map { case (k, v) => k -> Json.str(v) } :+
        ("cold_session.spark.graft.cachePrefixes" -> Json.str("false"))),
      "pass" -> Json.arr(pass.map(s => Json.str(s.name + (if (s.warm) "" else " (cold)")))),
      "warm_errors" -> obj(warmErr.toSeq.map { case (k, v) => k -> Json.str(v) }),
      "oracle_sql" -> obj(oracle.map { case (k, v) => k -> Json.str(v) }),
      "metrics" -> obj(e2e.map { case (k, v) => k -> v.toString }),
      "per_layer" -> obj(layers.map { case (k, v) => k -> v.toString }),
      "units" -> Json.arr(all.map(Json.unit))))
    Files.writeString(out.resolve("result.json"), json)
    if (trace) Report.writeTrace(out, tracer, jobsL, s"$workload-${runSpan.start}")
    spark.stop()
  }

  def fingerprint(rows: Array[Row]): Int =
    MurmurHash3.orderedHash(rows.iterator.map(_.toString))

  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def gc(): Unit = { System.gc(); System.gc() }

  /** Live heap after full GCs, the lesser of two readings: Spark's
    * ContextCleaner frees shuffle and broadcast state asynchronously
    * after the first GC finds it unreachable. */
  def retainedHeapMb(): Double = (0 until 2).map { _ =>
    gc(); Thread.sleep(200)
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }.min

  def dirBytes(path: String): Long = {
    val p: Path = Paths.get(path)
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator.asScala.filter(f => Files.isRegularFile(f) &&
        !f.getFileName.toString.startsWith(".")).map(f => Files.size(f)).sum
      finally s.close()
    }
  }
}

/** graft.Bench's fixed-work ambient-load probes, at a quarter of the
  * work: a codegen'd hash fold over a constant range, and a 32 MiB
  * temp-file write + read-back. Returns (cpu seconds, io seconds). */
object Sentinel {
  def apply(spark: SparkSession, cpus: Int): (Double, Double) = {
    spark.range(0, 5000000L, 1, cpus).selectExpr("bit_xor(xxhash64(id)) AS s").collect()
    val c0 = System.nanoTime()
    spark.range(0, 50000000L, 1, cpus).selectExpr("bit_xor(xxhash64(id)) AS s").collect()
    val cpuS = (System.nanoTime() - c0) / 1e9
    val i0 = System.nanoTime()
    val f = Files.createTempFile("perfbench_probe", ".bin")
    try {
      val chunk = new Array[Byte](4 << 20)
      java.util.Arrays.fill(chunk, 0x5a.toByte)
      val o = Files.newOutputStream(f)
      try (0 until 8).foreach(_ => o.write(chunk)) finally o.close()
      val in = Files.newInputStream(f)
      try { val buf = new Array[Byte](4 << 20); while (in.read(buf) > 0) () } finally in.close()
    } finally Files.deleteIfExists(f)
    (cpuS, (System.nanoTime() - i0) / 1e9)
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")

  def value(v: Any): String = v match {
    case null => "null"
    case other => str(other.toString)
  }

  def unit(u: PerfBench.Unit_): String =
    s"""{"iter":${u.iter},"pass":${u.pass},"name":${str(u.name)},"lat_s":${u.latS},""" +
      s""""traced":${u.traced},"ok":${u.ok},"err":${str(u.err)},""" +
      s""""span":${u.spanId},"rows":${arr(u.rows.map(r => arr(r.map(value))))}}"""
}
