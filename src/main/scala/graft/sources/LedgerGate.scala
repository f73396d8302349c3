package graft.sources

import java.nio.file.{Path, Paths}

import scala.reflect.ClassTag

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.sources.Filter

/** The shared set-up of the ledger and catalog oracle gates. Each gate
  * says only what is specific to it; how a scratch table is named and
  * wiped, how the catalog is installed and a fresh table created, how
  * a digest is taken and a verdict folded into the hashed row, and how
  * the connector's own planner is asked for its file count are decided
  * here, once (the Data Sources split of the Spark SQL paper: one place
  * knows how a source is named, created and read).
  *
  * Nothing here runs a Spark action: every helper is driver file I/O,
  * a catalog command, or a lazy DataFrame. Each gate keeps its own
  * eager/lazy choice for its digests. */
private[graft] object LedgerGate {

  val ledger: String = classOf[LedgerSink].getName

  private def tmpdir: String = System.getProperty("java.io.tmpdir")

  /** The one root of the `graft_cat` catalog. Spark caches a catalog
    * instance by name with the first root it sees, so every gate and
    * every spec that installs `graft_cat` must name this one. */
  def catalogRoot: String = s"$tmpdir/graft_catalog_rt"

  def initCatalog(spark: SparkSession): Unit = {
    spark.conf.set("spark.sql.catalog.graft_cat", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_cat.root", catalogRoot)
  }

  /** The fixture dir as an identifier-safe suffix for table, view and
    * scratch names. */
  def tag(sfDir: String): String = sfDir.replaceAll("[^A-Za-z0-9]", "_")

  /** A ledger table addressed by path. */
  class PathTable(spark: SparkSession, val dir: String) {
    def root: Path = Paths.get(dir)

    def read(opts: (String, String)*): DataFrame =
      spark.read.format(ledger).option("path", dir).options(opts.toMap).load()

    def readStream(opts: (String, String)*): DataFrame =
      spark.readStream.format(ledger).option("path", dir).options(opts.toMap)
        .load()

    def write(df: DataFrame, mode: String, opts: (String, String)*): Unit =
      df.write.format(ledger).option("path", dir).options(opts.toMap)
        .mode(mode).save()
  }

  /** A `graft_cat` table: `name` for SQL, `dir` for path reads. */
  final class CatalogTable(spark: SparkSession, dir: String, val name: String)
      extends PathTable(spark, dir)

  /** The scratch table `<tmpdir>/graft_ledger_<name>_<tag><suffix>`,
    * wiped of whatever an earlier run left there. */
  def scratch(spark: SparkSession, name: String, sfDir: String,
      suffix: String = ""): PathTable = {
    val t = new PathTable(spark, s"$tmpdir/graft_ledger_${name}_${tag(sfDir)}$suffix")
    LedgerSink.deleteRecursively(t.root)
    t
  }

  /** A fresh `graft_cat.<ns>.<name>_<tag>` location: catalog installed,
    * namespace present, any table dropped and its directory wiped (a
    * crashed drop can leave a non-table directory behind). The first
    * write creates the table; see [[catalogTable]] for a CREATE. */
  def catalogPath(spark: SparkSession, ns: String, name: String,
      sfDir: String): CatalogTable = {
    initCatalog(spark)
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS graft_cat.$ns")
    val leaf = s"${name}_${tag(sfDir)}"
    val t = new CatalogTable(spark, s"$catalogRoot/$ns/$leaf", s"graft_cat.$ns.$leaf")
    spark.sql(s"DROP TABLE IF EXISTS ${t.name}")
    LedgerSink.deleteRecursively(t.root)
    t
  }

  /** [[catalogPath]], then `CREATE TABLE <name> <ddl>` — version 1. */
  def catalogTable(spark: SparkSession, ns: String, name: String,
      sfDir: String, ddl: String): CatalogTable = {
    val t = catalogPath(spark, ns, name, sfDir)
    spark.sql(s"CREATE TABLE ${t.name} $ddl")
    t
  }

  /** One-row digest: `count(*) AS n_<sfx>`, then `sum(c) AS <stem>_<sfx>`
    * per `c -> stem`. Lazy; the caller decides when it runs. */
  def digest(df: DataFrame, sfx: String, sums: (String, String)*): DataFrame =
    df.selectExpr(s"count(*) AS n_$sfx" +: sums.map { case (c, stem) =>
      s"sum($c) AS ${stem}_$sfx" }: _*)

  /** An engine-side fact folded into the hashed row as an INT column. */
  def intCol(name: String, v: Int): String = s"CAST($v AS INT) AS $name"

  /** A verdict column: INT 1 when `ok`, else 0 — the oracles'
    * `CAST(1 AS INTEGER)`. */
  def flag(name: String, ok: Boolean): String = intCol(name, if (ok) 1 else 0)

  def longCol(name: String, v: Long): String = s"CAST($v AS BIGINT) AS $name"

  /** The leading longs of a collected digest row, as BIGINT columns. */
  def longCols(row: Row, names: String*): Seq[String] =
    names.zipWithIndex.map { case (n, i) => longCol(n, row.getLong(i)) }

  /** Files the connector's own planner admits for `filters` at
    * `version` (None = live). Counts FILES, not input partitions: with
    * v2 bucketing on, the scan groups a partition tuple's files into
    * one partition for storage-partitioned joins. Reads metadata only. */
  def plannedFiles(root: Path, filters: Array[Filter],
      version: Option[Int] = None): Int = {
    val m = LedgerSink.readManifestAt(root, version).get
    val b = new LedgerScanBuilder(root, m.schema, version)
    b.pushFilters(filters): Unit
    b.build().toBatch.planInputPartitions().map {
      case g: LedgerFileGroupPartition => g.files.length
      case _ => 1
    }.sum
  }

  /** True when `body` throws an `E`; false when it succeeds. Any other
    * failure propagates. */
  def fails[E <: Throwable](body: => Any)(implicit e: ClassTag[E]): Boolean =
    try { body; false }
    catch { case t: Throwable if e.runtimeClass.isInstance(t) => true }

  /** True when `body` fails with one of `needles` in a message of its
    * cause chain; false when it succeeds. Any other failure propagates. */
  def refuses(needles: String*)(body: => Any): Boolean =
    try { body; false }
    catch { case t: Exception if needles.exists(causeChainContains(t, _)) => true }

  private def causeChainContains(e: Throwable, needle: String): Boolean =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(20)
      .exists(c => c.getMessage != null && c.getMessage.contains(needle))
}
