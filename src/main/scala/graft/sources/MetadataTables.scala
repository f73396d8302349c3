package graft.sources

import java.nio.file.Path

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** The ledger's METADATA TABLES — the Iceberg inspection surface
  * (`db.t.files`, `db.t.history`, `db.t.partitions`, `db.t.refs`):
  * plain SQL over the table's own metadata, no data files touched.
  * [[GraftCatalog.loadTable]] resolves `cat.ns.t.files` here when
  * `cat.ns.t` is a ledger table and `files` is not a table itself —
  * exactly how Iceberg's Spark catalog serves its `$files`-style
  * inspection relations.
  *
  * Everything is computed from the manifest chain at load time on the
  * driver (metadata is O(files), not O(rows)) and served as a static
  * DSv2 relation, chunked into input partitions so a million-file
  * table's inspection scan still parallelizes.
  */
object MetadataTables {

  /** Inspection suffixes, in the Iceberg naming. */
  val Names: Set[String] =
    Set("files", "history", "partitions", "refs", "eq_deletes")

  /** A spec field rendered for display: `region`, `bucket(4,id)`,
    * `days(ts)`. */
  private def renderField(f: LedgerSink.NamedPartField): String =
    f.kind match {
      case "identity" => f.name
      case "bucket" => s"bucket(${f.param},${f.name})"
      case other => s"$other(${f.name})"
    }

  /** The inspection relation `suffix` over the ledger table at `dir`,
    * or None when the suffix is unknown. */
  def forSuffix(dir: Path, qualified: String, suffix: String): Option[Table] =
    suffix match {
      case "files" => Some(files(dir, qualified))
      case "history" => Some(history(dir, qualified))
      case "partitions" => Some(partitions(dir, qualified))
      case "refs" => Some(refs(dir, qualified))
      case "eq_deletes" => Some(eqDeletes(dir, qualified))
      case _ => None
    }

  /** One row per live data file: its partition binding (rendered
    * `name=value/...` under the file's OWN spec — spec evolution keeps
    * old files' tuples), physical row count (DV-deleted lines
    * included), stat-column envelope, and the DV/bloom sidecars. */
  private def files(dir: Path, qualified: String): Table = {
    val m = LedgerSink.readManifest(dir).getOrElse(
      throw new IllegalArgumentException(s"no ledger table at $dir"))
    val rows: Seq[Seq[Any]] = m.files.map { e =>
      val part = m.namedSpecOf(e).zip(e.partVals.getOrElse(Nil))
        .map { case (f, v) => s"${renderField(f)}=$v" }.mkString("/")
      Seq(e.file, m.specOf(e), e.rows,
        e.min.orNull, e.max.orNull,
        if (part.isEmpty) null else part,
        e.dv.orNull, e.bloom.orNull, e.seq.orNull)
    }
    new StaticRowsTable(s"$qualified.files", StructType(Seq(
      StructField("file", StringType, nullable = false),
      StructField("spec_id", IntegerType, nullable = false),
      StructField("n_physical_rows", LongType, nullable = false),
      StructField("stat_min", LongType),
      StructField("stat_max", LongType),
      StructField("partition", StringType),
      StructField("dv", StringType),
      StructField("bloom", StringType),
      StructField("data_seq", IntegerType))), rows)
  }

  /** One row per ACTIVE equality delete: its sidecar, install version,
    * and key columns (resolved to current names — the delete keys on
    * field ids, so renames never detach it). */
  private def eqDeletes(dir: Path, qualified: String): Table = {
    val m = LedgerSink.readManifest(dir).getOrElse(
      throw new IllegalArgumentException(s"no ledger table at $dir"))
    val rows: Seq[Seq[Any]] = m.eqDeletes.map(d =>
      Seq(d.file, d.version,
        d.fieldIds.map(id => m.fieldOfId(id).name).mkString(",")))
    new StaticRowsTable(s"$qualified.eq_deletes", StructType(Seq(
      StructField("file", StringType, nullable = false),
      StructField("version", IntegerType, nullable = false),
      StructField("key_columns", StringType, nullable = false))), rows)
  }

  /** One row per readable version, with its commit timestamp (null on
    * pre-timestamp history) — the DESCRIBE HISTORY surface. */
  private def history(dir: Path, qualified: String): Table = {
    val cur = LedgerSink.currentVersion(dir)
    val rows: Seq[Seq[Any]] =
      (LedgerSink.archivedVersions(dir) :+ cur).map { v =>
        val m = LedgerSink.readManifestAt(dir, Some(v)).get
        Seq(v, LedgerSink.commitTs(dir, v).orNull,
          m.files.length, m.files.map(_.rows).sum,
          m.files.count(_.dv.nonEmpty), m.eqDeletes.length,
          if (v == cur) 1 else 0)
      }
    new StaticRowsTable(s"$qualified.history", StructType(Seq(
      StructField("version", IntegerType, nullable = false),
      StructField("ts_millis", LongType),
      StructField("n_files", IntegerType, nullable = false),
      StructField("n_physical_rows", LongType, nullable = false),
      StructField("n_dvs", IntegerType, nullable = false),
      StructField("n_eqdels", IntegerType, nullable = false),
      StructField("is_current", IntegerType, nullable = false))), rows)
  }

  /** One row per live partition tuple: file count and physical rows —
    * the skew/layout readout an OPTIMIZE decision starts from. */
  private def partitions(dir: Path, qualified: String): Table = {
    val m = LedgerSink.readManifest(dir).getOrElse(
      throw new IllegalArgumentException(s"no ledger table at $dir"))
    val rows: Seq[Seq[Any]] = m.files
      .groupBy(e => (m.specOf(e), m.namedSpecOf(e)
        .zip(e.partVals.getOrElse(Nil))
        .map { case (f, v) => s"${renderField(f)}=$v" }.mkString("/")))
      .toSeq.sortBy(_._1._2)
      .map { case ((spec, part), fs) =>
        Seq(if (part.isEmpty) null else part, spec,
          fs.length, fs.map(_.rows).sum)
      }
    new StaticRowsTable(s"$qualified.partitions", StructType(Seq(
      StructField("partition", StringType),
      StructField("spec_id", IntegerType, nullable = false),
      StructField("n_files", IntegerType, nullable = false),
      StructField("n_physical_rows", LongType, nullable = false))), rows)
  }

  /** `dsv2_metadata_tables`: the whole inspection surface as one
    * oracle row. A partitioned MoR table is built through catalog SQL
    * (CREATE → INSERT → row-level DELETE), tagged and branched; the
    * gate then reads ONLY `t.files` / `t.partitions` / `t.history` /
    * `t.refs` (plus the live table for the cross-check) and folds:
    * the partition inventory (count, physical rows, one-file-per-
    * tuple — the clustered write distribution makes that
    * deterministic), the file inventory (count, DV-carrying files,
    * the stat-column envelope), the version chain (count, current,
    * strictly-increasing timestamps), and both refs with the branch
    * head. DuckDB recomputes every data-derived number from the
    * customer fixture; physical rows STAY the full count after the
    * MoR delete while the live read shrinks — the gate pins both. */
  def metadataTables(spark: org.apache.spark.sql.SparkSession,
      sfDir: String): org.apache.spark.sql.DataFrame = {
    val tag = LedgerGate.tag(sfDir)
    val ct = LedgerGate.catalogTable(spark, "meta", "insp", sfDir,
      """(c_custkey BIGINT, nat BIGINT, bal_c BIGINT)
          PARTITIONED BY (nat)
          TBLPROPERTIES ('graft.ledger.rowLevelMode'='mor')""")       // v1
    val (t, dir) = (ct.name, ct.root)
    graft.io.Tables.customer(spark, sfDir)
      .selectExpr("CAST(c_custkey AS BIGINT) AS c_custkey",
        "CAST(c_nationkey AS BIGINT) AS nat",
        "CAST(round(c_acctbal * 100) AS BIGINT) AS bal_c")
      .createOrReplaceTempView(s"insp_base_$tag")
    spark.sql(s"INSERT INTO $t SELECT * FROM insp_base_$tag")        // v2
    spark.sql(s"DELETE FROM $t WHERE c_custkey % 5 = 0")             // v3 (DVs)
    LedgerRefs.createTag(dir, "audit"): Unit                         // at v3
    LedgerRefs.createBranch(dir, "dev"): Unit                        // fork v3
    ct.write(spark.sql(s"SELECT * FROM insp_base_$tag WHERE c_custkey <= 3"),
      "append", "branch" -> "dev")                                   // head v4
    val hist = spark.sql(s"SELECT version, ts_millis, is_current " +
      s"FROM $t.history ORDER BY version").collect()
    val tsOk = hist.forall(!_.isNullAt(1)) && hist.sliding(2).forall(w =>
      w.length < 2 || w(0).getLong(1) < w(1).getLong(1))
    val curV = hist.filter(_.getInt(2) == 1).map(_.getInt(0)).max
    val refs = spark.sql(s"SELECT name, kind, version, head FROM $t.refs " +
      "ORDER BY name").collect()
    val (tagV, forkV, headV) =
      (refs(0).getInt(2), refs(1).getInt(2), refs(1).getInt(3))
    spark.sql(
      s"""SELECT p.n_parts, p.phys_rows, p.fpp_ok,
            f.n_files, f.dv_files, f.key_min, f.key_max,
            ${LedgerGate.intCol("n_versions", hist.length)},
            ${LedgerGate.intCol("cur_version", curV)},
            ${LedgerGate.flag("ts_ok", tsOk)},
            ${LedgerGate.intCol("tag_version", tagV)},
            ${LedgerGate.intCol("branch_fork", forkV)},
            ${LedgerGate.intCol("branch_head", headV)},
            l.live_rows, l.live_bal
          FROM
            (SELECT count(*) AS n_parts,
               CAST(sum(n_physical_rows) AS BIGINT) AS phys_rows,
               CAST(CASE WHEN max(n_files) = 1 THEN 1 ELSE 0 END AS INT)
                 AS fpp_ok
             FROM $t.partitions) p,
            (SELECT count(*) AS n_files,
               count(dv) AS dv_files,
               CAST(min(stat_min) AS BIGINT) AS key_min,
               CAST(max(stat_max) AS BIGINT) AS key_max
             FROM $t.files) f,
            (SELECT count(*) AS live_rows,
               CAST(sum(bal_c) AS BIGINT) AS live_bal FROM $t) l""")
  }

  val metadataTablesOracle: String =
    """WITH c AS (SELECT CAST(c_custkey AS BIGINT) AS k,
           CAST(c_nationkey AS BIGINT) AS nat,
           CAST(round(c_acctbal * 100) AS BIGINT) AS bal FROM customer)
       SELECT count(DISTINCT nat) AS n_parts,
         count(*) AS phys_rows,
         CAST(1 AS INTEGER) AS fpp_ok,
         count(DISTINCT nat) AS n_files,
         CAST(count(DISTINCT CASE WHEN k % 5 = 0 THEN nat END) AS BIGINT)
           AS dv_files,
         CAST(min(k) AS BIGINT) AS key_min,
         CAST(max(k) AS BIGINT) AS key_max,
         CAST(3 AS INTEGER) AS n_versions,
         CAST(3 AS INTEGER) AS cur_version,
         CAST(1 AS INTEGER) AS ts_ok,
         CAST(3 AS INTEGER) AS tag_version,
         CAST(3 AS INTEGER) AS branch_fork,
         CAST(4 AS INTEGER) AS branch_head,
         count(*) FILTER (WHERE k % 5 <> 0) AS live_rows,
         CAST(sum(bal) FILTER (WHERE k % 5 <> 0) AS BIGINT) AS live_bal
       FROM c"""

  /** Tags and branches: a tag's version is its immutable target; a
    * branch row carries both its fork point and its current head. */
  private def refs(dir: Path, qualified: String): Table = {
    val tags = LedgerRefs.tags(dir).toSeq.sortBy(_._1)
      .map { case (n, v) => Seq(n, "tag", v, null) }
    val branches = LedgerRefs.branches(dir).toSeq.sortBy(_._1)
      .map { case (n, fork) =>
        Seq(n, "branch", fork, LedgerSink.branchHead(dir, n, fork))
      }
    new StaticRowsTable(s"$qualified.refs", StructType(Seq(
      StructField("name", StringType, nullable = false),
      StructField("kind", StringType, nullable = false),
      StructField("version", IntegerType, nullable = false),
      StructField("head", IntegerType))), tags ++ branches)
  }
}

/** A static, driver-materialized DSv2 relation: plain JVM values
  * (String / Long / Int / null) chunked into input partitions, decoded
  * to InternalRows on the executor. Read-only by construction. */
private[sources] class StaticRowsTable(tname: String,
    tschema: StructType, data: Seq[Seq[Any]])
    extends Table with SupportsRead {

  override def name(): String = tname
  override def schema(): StructType = tschema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap)
      : ScanBuilder = () => new Scan with Batch {
    override def readSchema(): StructType = tschema
    override def toBatch: Batch = this
    override def planInputPartitions(): Array[InputPartition] =
      if (data.isEmpty) Array(StaticRowsPartition(Seq.empty))
      else data.grouped(8192).map(g => StaticRowsPartition(g)).toArray
    override def createReaderFactory(): PartitionReaderFactory =
      partition => {
        val rows = partition.asInstanceOf[StaticRowsPartition].rows
          .iterator.map { vals =>
            new GenericInternalRow(vals.map {
              case s: String => UTF8String.fromString(s)
              case other => other
            }.toArray[Any])
          }
        new PartitionReader[InternalRow] {
          private var cur: InternalRow = _
          override def next(): Boolean =
            rows.hasNext && { cur = rows.next(); true }
          override def get(): InternalRow = cur
          override def close(): Unit = ()
        }
      }
    override def description(): String = tname
  }
}

private[sources] case class StaticRowsPartition(rows: Seq[Seq[Any]])
  extends InputPartition
