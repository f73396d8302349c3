package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Fixture-table readers over the driver-generated parquet corpus
  * (TESTDATA.md). One parquet file per table under `sfDir`.
  *
  * At 100 TB these would be multi-file partitioned datasets; the read
  * path is identical (`spark.read.parquet(dir)`), and all downstream
  * pipelines rely on Catalyst column pruning + filter pushdown into the
  * parquet scan rather than eager materialization, so nothing here
  * assumes single-file inputs.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** (name, size, mtime) of every regular file under `path`, sorted —
    * cheap fs metadata, no content read; "missing" when `path` is
    * absent. A rewritten fixture changes size or mtime, so a JVM-global
    * cache keyed by path plus this fingerprint cannot serve state
    * derived from the files a rewrite replaced (ADVICE r8: the rollup
    * registry was keyed by path alone, and an in-process rewrite of
    * lineitem.parquet would have served pre-rewrite aggregates
    * forever). */
  private[graft] def fingerprint(path: String): String = {
    val p = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.exists(p)) "missing"
    else {
      val s = java.nio.file.Files.walk(p)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala
          .filter(java.nio.file.Files.isRegularFile(_))
          .map(f => s"${f.getFileName}:${java.nio.file.Files.size(f)}:" +
            s"${java.nio.file.Files.getLastModifiedTime(f).toMillis}")
          .toSeq.sorted.mkString("|")
      } finally s.close()
    }
  }

  /** Path-safe tag for a fixture dir: the dir with every character
    * outside [A-Za-z0-9.] replaced by `_`, plus a hash of the raw
    * string, so distinct dirs the replacement would collide onto one
    * name keep distinct paths. Every derived zone and side-table path
    * (raw zone, e2e zones, rollup and feature side-tables) is named by
    * it, and its bytes must stay stable so warm machines keep finding
    * their staged data. */
  private[graft] def dirTag(dir: String): String =
    dir.replaceAll("[^A-Za-z0-9.]", "_") + "_" +
      java.lang.Integer.toHexString(
        java.util.Arrays.hashCode(dir.getBytes("UTF-8")))

  /** Raw scan (keeps the `_metadata` hidden column resolvable). */
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")

  /** The fixture tables are single-file / single-row-group parquet, so
    * the scan is one task and every pre-shuffle projection would run
    * single-threaded. A round-robin repartition right after the scan
    * restores parallelism for the compute-heavy per-row work (hashing,
    * shingling, dot products). On a real multi-file 100 TB dataset the
    * scan itself provides the parallelism and this becomes a no-op
    * choice — the repartition is the local-fixture mitigation, not the
    * scale design. */
  private def spread(df: DataFrame): DataFrame =
    df.repartition(df.sparkSession.sparkContext.defaultParallelism)

  def region(spark: SparkSession, d: String): DataFrame = table(spark, d, "region")
  def nation(spark: SparkSession, d: String): DataFrame = table(spark, d, "nation")
  // dimension-sized tables skip the spread: their downstream ops either
  // broadcast or shuffle anyway, and the extra exchange is pure cost
  def customer(spark: SparkSession, d: String): DataFrame = table(spark, d, "customer")
  def supplier(spark: SparkSession, d: String): DataFrame = table(spark, d, "supplier")
  def part(spark: SparkSession, d: String): DataFrame = table(spark, d, "part")
  def orders(spark: SparkSession, d: String): DataFrame = spread(table(spark, d, "orders"))
  def lineitem(spark: SparkSession, d: String): DataFrame = spread(table(spark, d, "lineitem"))

  /** The events fixture's `ts` column has shipped in two vintages:
    * TIMESTAMP(NANOS) (Spark rejects it; sessions set
    * `spark.sql.legacy.parquet.nanosAsLong=true` and it arrives as a
    * nano-long) and TIMESTAMP(MICROS) without UTC adjustment (arrives
    * as TIMESTAMP_NTZ). [[normalizeTs]] maps BOTH onto the same
    * session-timezone TimestampType instants — integer `div` for the
    * nano-long (no double round-trip — nanos exceed 2^53), a plain
    * cast for NTZ. Every session pins timeZone=UTC, so the NTZ wall
    * clock IS the UTC instant, which is also exactly how DuckDB reads
    * the naive column — the oracles' `CAST(ts AS TIMESTAMP)`/epoch()
    * arithmetic agrees bit-for-bit with either vintage. */
  private[graft] def normalizeTs(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    df.schema("ts").dataType match {
      case LongType =>
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType =>
        df.withColumn("ts", col("ts").cast(TimestampType))
      case _ => df
    }
  }

  /** The raw (pre-normalization) type of events.ts in this fixture
    * dir — streaming sources need it to declare their read schema. */
  private[graft] def eventsTsType(
      spark: SparkSession, d: String): org.apache.spark.sql.types.DataType =
    table(spark, d, "events").schema("ts").dataType

  /** No spread: the events pipelines shuffle at their first
    * dedup/join/agg anyway (measured net loss with it). */
  def events(spark: SparkSession, d: String): DataFrame =
    normalizeTs(table(spark, d, "events"))

  def documents(spark: SparkSession, d: String): DataFrame =
    spread(table(spark, d, "documents"))
  def embeddings(spark: SparkSession, d: String): DataFrame =
    spread(table(spark, d, "embeddings"))
}
