package graft

import scala.collection.concurrent.TrieMap
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.SparkSession
import org.apache.spark.storage.StorageLevel

/** Session-scoped reuse of shared pipeline prefixes.
  *
  * A bench/report workload runs many queries over the same handful of
  * processed-zone relations (sales transactions, inventory
  * reconciliation, enriched feedback, embedding norms, document
  * shingles); rebuilding those per query replans and recomputes the
  * same scans and shuffles. When `spark.graft.cachePrefixes=true`, the
  * first builder call persists the prefix (MEMORY_AND_DISK) and later
  * calls reuse it — the cluster-side analogue of writing the processed
  * zone once and reading it from storage, which is exactly what the
  * reference's staged S3 zones do between jobs.
  *
  * Off by default: correctness runs (Verify) and tests measure the
  * cold path, and unit tests spin up many short-lived sessions.
  */
object PlanCache {
  private val cache = TrieMap[(String, String, String), DataFrame]()

  def enabled(spark: SparkSession): Boolean =
    spark.conf.getOption("spark.graft.cachePrefixes").exists(_.toBoolean)

  /** Unique, never-reused id per session (identity hashes can collide
    * between live objects and be re-issued after GC; a minted UUID
    * can't — Spark's own `sessionUUID` is `private[sql]`, so mint our
    * own, weakly keyed so the map never pins a session). */
  private val sessionIds =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[SparkSession, String]())

  private def sessionId(spark: SparkSession): String =
    sessionIds.computeIfAbsent(spark, _ => java.util.UUID.randomUUID().toString)

  /** Build-or-reuse the prefix `key` over fixture dir `dir`. Entries
    * whose owning context has stopped are evicted lazily here, so
    * short-lived test sessions don't accrete dead DataFrames. */
  def apply(spark: SparkSession, key: String, dir: String)(
      build: => DataFrame): DataFrame =
    if (!enabled(spark)) build
    else {
      evictStopped()
      cache.getOrElseUpdate(
        (sessionId(spark), key, dir),
        build.persist(StorageLevel.MEMORY_AND_DISK))
    }

  /** Like [[apply]], but when `spark.graft.featureTableDir` is also
    * set the prefix is MATERIALIZED TO A PARQUET SIDE-TABLE and read
    * back, instead of persisted in block storage. This is the 100 TB
    * pattern for wide, expensive, many-consumer relations (e.g. the
    * dedup feature table of shingle arrays + signatures): written once
    * to columnar storage, every consumer scans it with column pruning
    * — array columns never squat in executor memory between queries.
    * Without the dir conf it degrades to the persist path. */
  def sideTable(spark: SparkSession, key: String, dir: String)(
      build: => DataFrame): DataFrame =
    spark.conf.getOption("spark.graft.featureTableDir") match {
      case Some(root) if enabled(spark) =>
        evictStopped()
        cache.getOrElseUpdate((sessionId(spark), s"st_$key", dir), {
          // Path is keyed by the session id too: two concurrent
          // sessions sharing featureTableDir must not overwrite each
          // other's files while the other holds a reader over the old
          // listing.
          val path =
            s"$root/${sessionId(spark)}/${key}_${graft.io.Tables.dirTag(dir)}"
          try {
            build.write.mode("overwrite")
              .option("compression", "snappy").parquet(path)
            spark.read.parquet(path)
          } catch {
            case scala.util.control.NonFatal(_) =>
              // A full or unwritable staging dir must DEGRADE the
              // session, not fail its queries: fall back to the
              // persist path over a fresh plan (never read the
              // possibly-partial files at `path`). Correctness can't
              // depend on staging succeeding — only steady-state cost
              // does (PlanCacheResilienceSpec).
              build.persist(StorageLevel.MEMORY_AND_DISK)
          }
        })
      case _ => apply(spark, key, dir)(build)
    }

  private def evictStopped(): Unit =
    cache.filterInPlace((_, df) => !df.sparkSession.sparkContext.isStopped)

  /** Session-scoped memo for MULTI-RELATION staged artifacts (e.g.
    * BPE training's merge table + final sequence, produced by ONE run
    * of the training rounds): same keying and enablement as [[apply]],
    * no persist here — the builder must hand back already-materialized
    * relations (lineage-cut), because two [[apply]] keys over the same
    * builder would run it once per key. Entries are evicted with their
    * session like the DataFrame cache. */
  def memo[T](spark: SparkSession, key: String, dir: String,
      alive: T => Boolean)(build: => T): T =
    if (!enabled(spark)) build
    else {
      memoCache.filterInPlace((_, v) => v._2())
      memoCache.getOrElseUpdate((sessionId(spark), key, dir), {
        val v = build
        (v, () => alive(v))
      })._1.asInstanceOf[T]
    }

  private val memoCache =
    TrieMap[(String, String, String), (Any, () => Boolean)]()

  /** Drop every cached prefix (between scale factors / at shutdown). */
  def clear(): Unit = {
    cache.values.foreach { df =>
      if (!df.sparkSession.sparkContext.isStopped) df.unpersist(blocking = false)
    }
    cache.clear()
    memoCache.clear()
  }
}
