package graft
import java.nio.file.{Files, Paths}
import java.util.concurrent.Executors
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Hardened after round 4's gate loss: the driver runs this under a
  * wall-clock timeout, and with 144 queries a sequential local[4] run
  * exceeded it — the kill landed BEFORE oracle_sql.json was written, so
  * the compare step had nothing to read and the whole round's
  * correctness report was empty. Three changes close that failure mode:
  * 1. oracle_sql.json is written FIRST — a timeout now yields partial
  *    per-query rows instead of an empty report;
  * 2. the core default follows the machine (availableProcessors), not a
  *    hard-coded 4 — SPARK_GRAFT_CPUS still overrides;
  * 3. queries run CONCURRENTLY from a small thread pool. Spark sessions
  *    are thread-safe and the queries share no mutable state (PlanCache
  *    is off here — Verify measures the cold path), so concurrent
  *    submission just keeps the local scheduler saturated through each
  *    query's single-threaded planning and parquet-commit phases.
  *
  * Concurrency invariant the query corpus upholds: the handful of
  * temp-view names shared by multiple queries (sales_tx, the six
  * curated_* views) are only ever created with IDENTICAL definitions
  * for a given fixture dir, so a concurrent create-or-replace can
  * never swap a different relation under another query's analysis.
  * This is no longer on the honor system: every main-source
  * registration routes through [[graft.io.Views.register]], which
  * remembers the canonicalized plan per (session, dir, name) and
  * THROWS on a divergent re-registration (ViewsSpec). Per-query
  * scratch paths (IoChecks, migration) are keyed by query tag + dir
  * and never collide. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = GraftSession.cpus
    val spark = GraftSession.local()
    new java.io.File(outDir).mkdirs()
    // Optional subset filter for local iteration: SPARK_GRAFT_ONLY=q1,q2
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.forall(_.contains(k)) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val selected = SparkEntry.queries.filter { case (n, _) =>
      only.forall(_.contains(n)) }
    // Pool size trades scheduler saturation against planning-thread
    // and memory contention; 8 was tuned at 144 queries, and the
    // driver's time budget is the binding constraint at 387 —
    // SPARK_GRAFT_WORKERS overrides for measurement.
    val workers = sys.env.get("SPARK_GRAFT_WORKERS").map(_.toInt)
      .getOrElse(math.max(2, math.min(8, cpus)))
    val pool = Executors.newFixedThreadPool(workers)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val t0 = System.nanoTime()
    val runs = selected.toSeq.map { case (name, fn) =>
      Future {
        val s0 = System.nanoTime()
        try {
          fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          System.err.println(
            f"[verify] $name ok ${(System.nanoTime() - s0) / 1e9}%.1fs")
        } catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
        }
      }
    }
    Await.result(Future.sequence(runs), Duration.Inf)
    pool.shutdown()
    System.err.println(
      f"[verify] ${selected.size} queries in ${(System.nanoTime() - t0) / 1e9}%.1fs")
    spark.stop()
  }
}
