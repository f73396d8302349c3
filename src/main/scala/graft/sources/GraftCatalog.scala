package graft.sources

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.analysis.{NoSuchFunctionException, NoSuchNamespaceException, NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types.{IntegerType, LongType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** A v2 CATALOG PLUGIN — the extension tier above connectors: the
  * thing `spark.sql.catalog.<name>=<class>` installs, after which
  * plain SQL DDL/DML (`CREATE TABLE g.ns.t`, `INSERT INTO`, `SELECT`,
  * `DROP TABLE`) resolves through this class instead of the Hive
  * metastore. This is what Iceberg/Delta/Unity ship as their
  * integration point; the engine's instance manages ledger-format
  * tables ([[LedgerSink]]'s staged-file + atomic-manifest protocol)
  * under a root directory:
  *
  *   root/<namespace...>/<table>/_MANIFEST     — existence = the table
  *   root/<namespace...>/<table>/_staging/...  — committed row files
  *
  * Catalog state IS the filesystem state: a table exists iff its
  * manifest does (no second metadata store to drift), create writes
  * an empty manifest atomically, drop deletes the directory, rename
  * is a directory move. Namespaces are implicit prefixes, like object
  * stores treat them. Schema evolution supports ADD, RENAME and DROP
  * COLUMN plus the Iceberg-spec safe promotion INT → BIGINT, all
  * without file rewrites — readers bind columns by never-reused
  * FIELD ID (see [[alterTable]]); every other type change and any
  * reposition honestly requires a rewrite, because each would change
  * how existing bytes decode.
  *
  * Reference tie-in: this replaces the reference's Glue Data Catalog
  * tier (`crawler.tf` + `06_catalog.py` registration) — where Glue
  * crawls files to discover tables, this catalog derives them from
  * the commit protocol's own manifests.
  */
class GraftCatalog extends TableCatalog with SupportsNamespaces
    with FunctionCatalog
    with org.apache.spark.sql.connector.catalog.ProcedureCatalog {

  private var catalogName: String = _
  private var root: Path = _

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    root = Paths.get(Option(options.get("root")).getOrElse(
      s"${System.getProperty("java.io.tmpdir")}/graft_catalog_$name"))
    Files.createDirectories(root)
  }

  override def name(): String = catalogName

  /** Declares ADD COLUMN ... DEFAULT support so Spark's analyzer lets
    * the DDL through to [[alterTable]] (initial-default semantics —
    * see the AddColumn case) and fills omitted columns on INSERT from
    * the CURRENT_DEFAULT metadata [[loadTable]] attaches. */
  override def capabilities(): java.util.Set[TableCatalogCapability] =
    java.util.EnumSet.of(TableCatalogCapability.SUPPORT_COLUMN_DEFAULT_VALUE)

  private def tableDir(ident: Identifier): Path =
    ident.namespace().foldLeft(root)(_.resolve(_)).resolve(ident.name())

  // ---- SQL CALL maintenance procedures (see [[GraftProcedures]]) ----

  /** `table` procedure arguments are `namespace.table` strings,
    * resolved exactly like identifiers everywhere else in the
    * catalog; the table must exist — procedures operate on committed
    * state. */
  private def procTableDir(qualified: String): Path = {
    val parts = qualified.split("\\.").toSeq.filter(_.nonEmpty)
    require(parts.nonEmpty, s"empty table argument '$qualified'")
    val dir = parts.foldLeft(root)(_.resolve(_))
    if (!isTable(dir)) throw new NoSuchTableException(
      Identifier.of(parts.init.toArray, parts.last))
    dir
  }

  override def loadProcedure(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure =
    GraftProcedures.load(ident, procTableDir)

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    GraftProcedures.names
      .map(n => Identifier.of(Array("sys"), n)).toArray

  private def isTable(p: Path): Boolean =
    Files.exists(p.resolve(LedgerSink.ManifestName))

  /** Run `f` over a java.nio directory stream and CLOSE it —
    * Files.list/walk hold an open directory fd until closed, so the
    * bare-iterator form leaked one fd per catalog operation and a
    * long-lived session eventually hit the process fd limit
    * (ADVICE r8). */
  private def withStream[A](s: java.util.stream.Stream[Path])(
      f: Iterator[Path] => A): A =
    try f(s.iterator().asScala) finally s.close()

  override def tableExists(ident: Identifier): Boolean = isTable(tableDir(ident))

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val dir = namespace.foldLeft(root)(_.resolve(_))
    if (!Files.isDirectory(dir)) throw new NoSuchNamespaceException(
      catalogName +: namespace)
    withStream(Files.list(dir))(_
      .filter(p => Files.isDirectory(p) && isTable(p))
      .map(p => Identifier.of(namespace, p.getFileName.toString))
      .toArray)
  }

  /** The schema with CURRENT/EXISTS_DEFAULT metadata attached for
    * fields carrying an initial default — the handle Spark's own
    * INSERT analysis uses to fill omitted columns, so "new writes
    * materialize values" without this connector touching the write
    * path. Metadata-free when no defaults exist (byte-identical
    * schema for every pre-existing table). */
  private def withDefaultMetadata(m: LedgerSink.Manifest): StructType =
    if (m.defaults.isEmpty) m.schema
    else StructType(m.schema.fields.zip(m.ids).map { case (f, id) =>
      m.defaults.get(id) match {
        case Some(enc) =>
          val sql = LedgerSink.defaultSqlText(f.dataType, enc)
          f.copy(metadata = new org.apache.spark.sql.types.MetadataBuilder()
            .withMetadata(f.metadata)
            .putString("CURRENT_DEFAULT", sql)
            .putString("EXISTS_DEFAULT", sql).build())
        case None => f
      }
    })

  override def loadTable(ident: Identifier): Table = {
    val dir = tableDir(ident)
    LedgerSink.readManifest(dir) match {
      case Some(m) => new LedgerTable(dir, withDefaultMetadata(m))
      case None =>
        // table-scoped derived relations, Iceberg-style, when no real
        // table shadows the name: the INSPECTION surface
        // (`cat.ns.t.files` / .history / .partitions / .refs), branch
        // handles (`cat.ns.t.branch_dev` — readable AND append-
        // writable, the SQL branch-write surface), and tag snapshots
        // (`cat.ns.t.tag_audit` — read-only)
        val ns = ident.namespace()
        (if (ns.isEmpty) None
        else {
          val parentDir = tableDir(Identifier.of(ns.init, ns.last))
          if (!isTable(parentDir)) None
          else if (MetadataTables.Names(ident.name()))
            MetadataTables.forSuffix(parentDir,
              (catalogName +: ns :+ ident.name()).mkString("."),
              ident.name())
          else if (ident.name().startsWith("branch_")) {
            // an unknown ref name must fall through to "no such
            // table", not leak IllegalArgumentException out of
            // loadTable — Spark's catalog-resolution fallback (e.g. a
            // temp view or another catalog shadowing the name) only
            // engages on NoSuchTableException (ADVICE r11)
            val b = ident.name().stripPrefix("branch_")
            try Some(new LedgerTable(parentDir,
              LedgerSink.readBranchState(parentDir, b,
                LedgerRefs.branchFork(parentDir, b)).schema,
              branch = Some(b)))
            catch { case _: IllegalArgumentException => None }
          } else if (ident.name().startsWith("tag_")) {
            val t = ident.name().stripPrefix("tag_")
            try {
              val v = LedgerRefs.resolveTag(parentDir, t)
              Some(new LedgerTable(parentDir,
                LedgerSink.readManifestAt(parentDir, Some(v)).get.schema,
                Some(v)))
            } catch { case _: IllegalArgumentException => None }
          } else None
        }).getOrElse(throw new NoSuchTableException(ident))
    }
  }

  /** SQL time travel — `SELECT … FROM cat.ns.t VERSION AS OF 2`
    * resolves here; the snapshot reads its own archived manifest
    * (schema included) and refuses writes ([[LedgerSink]]'s
    * versioning scaladoc has the protocol). Following Iceberg, the
    * "version" may also NAME a ref: a tag reads its target snapshot,
    * a branch reads the branch head. */
  override def loadTable(ident: Identifier, version: String): Table = {
    val dir = tableDir(ident)
    if (!isTable(dir)) throw new NoSuchTableException(ident)
    val v = version.toIntOption match {
      case Some(i) => i
      case None =>
        LedgerRefs.tags(dir).get(version) match {
          case Some(t) => t
          case None if LedgerRefs.branches(dir).contains(version) =>
            return new LedgerTable(dir,
              LedgerSink.readBranchState(dir, version,
                LedgerRefs.branchFork(dir, version)).schema,
              branch = Some(version))
          case None => throw new IllegalArgumentException(
            s"'$version' is neither a version number nor a tag/branch " +
              s"of ${ident.toString}")
        }
    }
    LedgerSink.readManifestAt(dir, Some(v)) match {
      case Some(m) => new LedgerTable(dir, m.schema, Some(v))
      case None => throw new NoSuchTableException(ident)
    }
  }

  /** SQL `SELECT … FROM cat.ns.t TIMESTAMP AS OF <expr>` — Spark
    * evaluates the expression and hands us MICROseconds since epoch;
    * resolve it to the version current at that instant and read that
    * snapshot (same machinery as `VERSION AS OF`). */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    val dir = tableDir(ident)
    if (!isTable(dir)) throw new NoSuchTableException(ident)
    val v = LedgerSink.versionForTimestamp(
      dir, Math.floorDiv(timestamp, 1000L))
    new LedgerTable(dir, LedgerSink.readManifestAt(dir, Some(v)).get.schema,
      Some(v))
  }

  override def createTable(
      ident: Identifier,
      schema: StructType,
      partitions: Array[Transform],
      properties: java.util.Map[String, String]): Table = {
    if (tableExists(ident)) throw new TableAlreadyExistsException(Seq(ident.toString))
    val dir = tableDir(ident)
    // an empty manifest, atomically — the create is durable the same
    // way commits are; `PARTITIONED BY (col, bucket(8, k), days(ts))`
    // transforms become the manifest's partition spec (by FIELD ID, so
    // the spec survives renames), which every later write and scan
    // honors. The rebase form makes concurrent CREATEs serialize:
    // exactly one wins, the loser gets TableAlreadyExists instead of
    // clobbering.
    // engine-namespaced properties persist in the manifest (`graft.*`
    // — e.g. graft.ledger.rowLevelMode=mor); Spark's own reserved and
    // bookkeeping keys (provider, owner, …) are not table state
    // CREATE-time column DEFAULTs arrive as CURRENT_DEFAULT schema
    // metadata (Spark's Column[] → StructType conversion): fold each
    // into the manifest's defaults map (by the field's fresh id) and
    // strip the metadata — manifests store schemas as plain DDL, and
    // [[withDefaultMetadata]] re-attaches on load.
    val defaults = schema.fields.zipWithIndex.flatMap { case (f, i) =>
      if (!f.metadata.contains("CURRENT_DEFAULT")) None
      else {
        val sql = f.metadata.getString("CURRENT_DEFAULT")
        val e = org.apache.spark.sql.catalyst.expressions.Cast(
          org.apache.spark.sql.catalyst.parser.CatalystSqlParser
            .parseExpression(sql), f.dataType)
        if (!e.resolved || !e.foldable) throw new UnsupportedOperationException(
          s"ledger DEFAULT for ${f.name} must be a constant literal; got $sql")
        Option(e.eval(null))
          .map(v => (i + 1) -> LedgerSink.encodeDefault(f.dataType, v))
        // DEFAULT NULL folds to nothing: absent == NULL already
      }
    }.toMap
    val clean = StructType(schema.fields.map(_.copy(
      metadata = org.apache.spark.sql.types.Metadata.empty)))
    val m = LedgerSink.Manifest.fresh(clean,
      LedgerSink.partitionSpecOf(partitions))
      .copy(props = properties.asScala
        .filter(_._1.startsWith("graft.")).toMap,
        defaults = defaults)
    try LedgerSink.commitRebase(dir,
      { case None => Some(m); case Some(_) => None }, "")
    catch {
      case _: java.util.ConcurrentModificationException =>
        throw new TableAlreadyExistsException(Seq(ident.toString))
    }
    new LedgerTable(dir, withDefaultMetadata(m))
  }

  /** Schema evolution WITHOUT rewriting a single data file, sound
    * because readers bind columns by FIELD ID (see
    * [[LedgerSink.FileEntry]]) and every change is a versioned commit
    * (time travel to a pre-evolution version reads the OLD schema):
    *
    *   - ADD COLUMN: appended, nullable, codec-supported type; gets a
    *     NEVER-REUSED fresh id, so old bytes can't alias into it, and
    *     pre-existing rows read NULL (their files simply lack the id)
    *     — or the declared `DEFAULT <literal>` (initial-default
    *     semantics: the value is manifest state by field id; new
    *     writes materialize real values via Spark's INSERT fill).
    *   - RENAME COLUMN: pure metadata — the id keeps its identity, so
    *     files written under the old name still feed the new one.
    *   - DROP COLUMN: removes the field and its id from the schema;
    *     old files keep the orphaned bytes, which no reader binds.
    *     Partition columns and the last column are refused.
    *
    * Type changes and repositions still honestly require a rewrite —
    * each would change how EXISTING bytes decode. Legacy (pre-id)
    * file entries are pinned to the pre-alter id list first, because
    * their implicit prefix-of-schema binding is only sound while the
    * schema grows at the tail. */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val dir = tableDir(ident)
    if (!isTable(dir)) throw new NoSuchTableException(ident)
    // the whole read-fold-write runs under the table's commit lock
    // against the commit-time manifest: an append landing mid-alter
    // keeps its file entries (the old read-then-write would have
    // installed a stale file list and silently dropped them)
    val altered = LedgerSink.commitRebase(dir, {
      case None => None
      case Some(before) => Some(applyChanges(before, changes))
    }, s"table $ident was dropped while being altered")
    new LedgerTable(dir, altered.schema)
  }

  private def applyChanges(before: LedgerSink.Manifest,
      changes: Seq[TableChange]): LedgerSink.Manifest = {
    val pinned = before.copy(files = before.files.map(e =>
      if (e.ids.isEmpty)
        e.copy(ids = Some(before.ids.toSeq),
          statId = e.statId.orElse(before.statId))
      else e))
    val altered = changes.foldLeft(pinned) { (m, ch) =>
      ch match {
        case add: TableChange.AddColumn =>
          if (add.fieldNames().length != 1)
            throw new UnsupportedOperationException(
              "ledger columns are flat; nested ADD COLUMN is unsupported")
          if (add.position() != null)
            throw new UnsupportedOperationException(
              "ledger ADD COLUMN appends; positions would change how " +
                "existing bytes decode")
          if (!add.isNullable)
            throw new UnsupportedOperationException(
              "added columns must be nullable: pre-existing rows read " +
                "NULL (or the declared DEFAULT)")
          val f = org.apache.spark.sql.types.StructField(
            add.fieldNames()(0), add.dataType(), nullable = true)
          LedgerSink.checkSchema(StructType(Seq(f)))
          if (m.schema.fieldNames.contains(f.name))
            throw new IllegalArgumentException(s"column ${f.name} exists")
          // ADD COLUMN ... DEFAULT <literal> (Delta / Iceberg-v3
          // INITIAL DEFAULT): stored by the fresh field id, no file
          // rewrite — files lacking the id read the default, new
          // writes materialize real values (Spark fills omitted
          // columns from the schema metadata [[withDefaultMetadata]]
          // attaches on load). Only foldable literals arrive here —
          // Spark has already constant-folded the DEFAULT expression.
          val defEnc = Option(add.defaultValue()).flatMap { dv =>
            val lit = dv.getValue
            if (lit == null) throw new UnsupportedOperationException(
              "ledger DEFAULT must be a constant literal")
            // DEFAULT NULL folds to nothing — absent == NULL already
            // (same rule as the CREATE TABLE path)
            Option(lit.value())
              .map(LedgerSink.encodeDefault(f.dataType, _))
          }
          m.copy(schema = StructType(m.schema.fields :+ f),
            ids = m.ids :+ m.nextId, nextId = m.nextId + 1,
            defaults = defEnc.fold(m.defaults)(v =>
              m.defaults + (m.nextId -> v)))
        case ren: TableChange.RenameColumn =>
          if (ren.fieldNames().length != 1)
            throw new UnsupportedOperationException(
              "ledger columns are flat; nested RENAME is unsupported")
          val from = ren.fieldNames()(0)
          val i = m.schema.fieldIndex(from) // throws on a missing column
          if (m.schema.fieldNames.contains(ren.newName()))
            throw new IllegalArgumentException(
              s"column ${ren.newName()} exists")
          // CHECK constraints store column NAMES: renaming a
          // referenced column would orphan the rule and fail the next
          // append far from the cause — refuse until it is dropped
          val cRen = LedgerConstraints.constraintsOf(m.props)
            .filter(c => LedgerConstraints.referencesColumn(c._2, from))
          if (cRen.nonEmpty) throw new UnsupportedOperationException(
            s"cannot rename $from: CHECK constraint(s) " +
              s"${cRen.map(_._1).mkString(",")} reference it; drop them first")
          m.copy(schema = StructType(m.schema.fields.updated(i,
            m.schema.fields(i).copy(name = ren.newName()))))
        case del: TableChange.DeleteColumn =>
          if (del.fieldNames().length != 1)
            throw new UnsupportedOperationException(
              "ledger columns are flat; nested DROP is unsupported")
          val name = del.fieldNames()(0)
          val iOpt =
            try Some(m.schema.fieldIndex(name))
            catch {
              case e: IllegalArgumentException =>
                if (del.ifExists()) None else throw e
            }
          iOpt match {
            case None => m // IF EXISTS on a missing column: no-op
            case Some(i) =>
              // ANY spec, current or historical: files written under
              // an old spec still carry tuples keyed by this field id
              if (m.allSpecFieldIds.contains(m.ids(i)))
                throw new UnsupportedOperationException(
                  s"cannot drop partition column $name (referenced by " +
                    "the current or a historical partition spec)")
              // active equality deletes key on field ids: dropping the
              // column would strand their tuples (and any later
              // re-add mints a NEW id, so the binding could never
              // silently alias) — refuse until they are materialized
              if (m.eqDeleteFieldIds.contains(m.ids(i)))
                throw new UnsupportedOperationException(
                  s"cannot drop $name: active equality delete(s) key " +
                    "on it; OPTIMIZE (materializing the deletes) first")
              val cDel = LedgerConstraints.constraintsOf(m.props)
                .filter(c => LedgerConstraints.referencesColumn(c._2, name))
              if (cDel.nonEmpty) throw new UnsupportedOperationException(
                s"cannot drop $name: CHECK constraint(s) " +
                  s"${cDel.map(_._1).mkString(",")} reference it; " +
                  "drop them first")
              if (m.schema.length == 1)
                throw new UnsupportedOperationException(
                  "cannot drop the last column")
              m.copy(
                schema = StructType(m.schema.fields.patch(i, Nil, 1)),
                ids = m.ids.patch(i, Nil, 1),
                // its initial default dies with the id (a later
                // re-add mints a NEW id, so it can never resurrect)
                defaults = m.defaults - m.ids(i))
          }
        case upd: TableChange.UpdateColumnType =>
          if (upd.fieldNames().length != 1)
            throw new UnsupportedOperationException(
              "ledger columns are flat; nested ALTER COLUMN TYPE is " +
                "unsupported")
          val name = upd.fieldNames()(0)
          val i = m.schema.fieldIndex(name) // throws on a missing column
          val from = m.schema.fields(i).dataType
          val to = upd.newDataType()
          if (from == to) m
          else if (from == IntegerType && to == LongType)
            // The one Iceberg-spec promotion this codec has a site for
            // (it has no FLOAT, so float→double never arises). Sound
            // without touching a data file because EVERY consumer of
            // the column's bytes is widening-stable: the line codec is
            // decimal text (an int's rendering parses as the long it
            // denotes), min/max skipping stats are stored as Long
            // already, partition values prune by rendered text (and
            // bucket/days read the value as long under both types),
            // and equality deletes match in encoded space where the
            // two types render identically. Time travel reads each
            // version's own schema, so pre-widening versions keep INT.
            m.copy(schema = StructType(m.schema.fields.updated(i,
              m.schema.fields(i).copy(dataType = to))))
          else throw new UnsupportedOperationException(
            s"cannot change $name: $from -> $to; only the safe " +
              "promotion INT -> BIGINT is supported (narrowing or " +
              "cross-family changes would change how existing bytes " +
              "decode — rewrite the table instead)")
        case set: TableChange.SetProperty =>
          if (!set.property().startsWith("graft."))
            throw new UnsupportedOperationException(
              s"ledger table properties are engine-namespaced " +
                s"(graft.*); got ${set.property()}")
          m.copy(props = m.props + (set.property() -> set.value()))
        case rm: TableChange.RemoveProperty =>
          m.copy(props = m.props - rm.property())
        case other => throw new UnsupportedOperationException(
          s"ledger evolution supports ADD/RENAME/DROP COLUMN, " +
            s"ALTER COLUMN TYPE (INT -> BIGINT) and " +
            s"SET/UNSET TBLPROPERTIES only; $other requires a rewrite")
      }
    }
    altered
  }

  override def dropTable(ident: Identifier): Boolean = {
    val dir = tableDir(ident)
    if (!isTable(dir)) return false
    // delete children bottom-up; the manifest goes FIRST so a crash
    // mid-drop leaves a non-table directory, never a corrupt table
    Files.deleteIfExists(dir.resolve(LedgerSink.ManifestName))
    LedgerSink.deleteRecursively(dir)
    true
  }

  override def renameTable(from: Identifier, to: Identifier): Unit = {
    if (!tableExists(from)) throw new NoSuchTableException(from)
    if (tableExists(to)) throw new TableAlreadyExistsException(Seq(to.toString))
    Files.createDirectories(tableDir(to).getParent)
    Files.move(tableDir(from), tableDir(to))
  }

  // ---- namespaces: implicit directory prefixes ----

  override def listNamespaces(): Array[Array[String]] =
    withStream(Files.list(root))(_
      .filter(p => Files.isDirectory(p) && !isTable(p))
      .map(p => Array(p.getFileName.toString)).toArray) :+ FnNamespace

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] = {
    val dir = namespace.foldLeft(root)(_.resolve(_))
    if (!Files.isDirectory(dir)) throw new NoSuchNamespaceException(
      catalogName +: namespace)
    withStream(Files.list(dir))(_
      .filter(p => Files.isDirectory(p) && !isTable(p))
      .map(p => namespace :+ p.getFileName.toString).toArray)
  }

  override def namespaceExists(namespace: Array[String]): Boolean =
    namespace.isEmpty || namespace.sameElements(FnNamespace) ||
      Files.isDirectory(namespace.foldLeft(root)(_.resolve(_)))

  override def loadNamespaceMetadata(
      namespace: Array[String]): java.util.Map[String, String] = {
    if (!namespaceExists(namespace))
      throw new NoSuchNamespaceException(catalogName +: namespace)
    java.util.Map.of()
  }

  override def createNamespace(
      namespace: Array[String],
      metadata: java.util.Map[String, String]): Unit =
    Files.createDirectories(namespace.foldLeft(root)(_.resolve(_)))

  override def alterNamespace(
      namespace: Array[String], changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException("namespaces carry no metadata")

  // ---- functions: the catalog-served UDF surface ----

  /** V2 functions live in the fixed `fns` namespace (they are code,
    * not filesystem state — [[GraftFunctions]] documents the tier).
    * `fns` coexists with the directory namespaces: listNamespaces
    * reports it and namespaceExists admits it even though no
    * directory backs it. */
  private val FnNamespace = Array("fns")

  override def listFunctions(namespace: Array[String]): Array[Identifier] =
    if (namespace.sameElements(FnNamespace))
      GraftFunctions.all.keys.toArray.sorted
        .map(Identifier.of(FnNamespace, _))
    else if (namespaceExists(namespace)) Array.empty
    else throw new NoSuchNamespaceException(catalogName +: namespace)

  override def loadFunction(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.functions.UnboundFunction =
    if (ident.namespace().sameElements(FnNamespace))
      GraftFunctions.all.getOrElse(ident.name(),
        throw new NoSuchFunctionException(ident))
    else if (ident.namespace().isEmpty)
      // the EMPTY namespace serves partition-transform functions:
      // Spark's SPJ machinery resolves a scan-reported bucket/days
      // transform through loadFunction(Identifier(Array(), name))
      GraftFunctions.transforms.getOrElse(ident.name(),
        throw new NoSuchFunctionException(ident))
    else throw new NoSuchFunctionException(ident)

  override def functionExists(ident: Identifier): Boolean =
    (ident.namespace().sameElements(FnNamespace) &&
      GraftFunctions.all.contains(ident.name())) ||
      (ident.namespace().isEmpty &&
        GraftFunctions.transforms.contains(ident.name()))

  override def dropNamespace(
      namespace: Array[String], cascade: Boolean): Boolean = {
    val dir = namespace.foldLeft(root)(_.resolve(_))
    if (!Files.isDirectory(dir)) return false
    if (!cascade && withStream(Files.list(dir))(_.hasNext))
      throw new IllegalStateException(s"namespace not empty: $dir")
    LedgerSink.deleteRecursively(dir)
    true
  }
}

/** Oracle gate for the catalog tier: plain SQL end-to-end — CREATE
  * TABLE through the plugin, INSERT INTO ... SELECT from the parquet
  * fixture, SELECT back through the catalog — against DuckDB reading
  * the fixture directly. What this pins: identifier resolution,
  * v2 write through SQL, and manifest-backed reads, all via the
  * public `spark.sql.catalog.*` installation path. */
object CatalogRoundtrip {
  import org.apache.spark.sql.{DataFrame, SparkSession}

  def catalogSqlRoundtrip(spark: SparkSession, sfDir: String): DataFrame = {
    val tag = LedgerGate.tag(sfDir)
    graft.io.Tables.nation(spark, sfDir)
      .createOrReplaceTempView(s"cat_rt_nation_$tag")
    val t = LedgerGate.catalogTable(spark, "rt", "nation", sfDir,
      "(n_nationkey BIGINT, n_name STRING, n_regionkey BIGINT)").name
    spark.sql(
      s"""INSERT INTO $t
          SELECT CAST(n_nationkey AS BIGINT), n_name,
                 CAST(n_regionkey AS BIGINT)
          FROM cat_rt_nation_$tag""")
    spark.sql(
      s"""SELECT n_regionkey, count(*) AS n_nations,
            min(n_name) AS first_name, max(n_name) AS last_name
          FROM $t
          GROUP BY n_regionkey ORDER BY n_regionkey""")
  }

  val catalogSqlRoundtripOracle: String =
    """SELECT CAST(n_regionkey AS BIGINT) AS n_regionkey,
         count(*) AS n_nations,
         min(n_name) AS first_name, max(n_name) AS last_name
       FROM nation GROUP BY 1 ORDER BY 1"""

  /** `dsv2_function_catalog`: catalog-served V2 functions called from
    * plain SQL — the scalar [[GraftFunctions.HardSigmoid]] (magic-
    * method Invoke path) inside a sum, and the V2 aggregate
    * [[GraftFunctions.SumOfSquares]] (update/merge/produceResult)
    * grouped per bucket. Exact integer arithmetic throughout, so the
    * DuckDB oracle replays both function BODIES as inline text — a
    * hash match pins that the catalog resolution, the reflective
    * magic-method binding, and the partial-agg merge tree all compute
    * the declared function. */
  def functionCatalogQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val tag = LedgerGate.tag(sfDir)
    LedgerGate.initCatalog(spark)
    graft.io.Tables.orders(spark, sfDir)
      .createOrReplaceTempView(s"cat_fn_orders_$tag")
    spark.sql(
      s"""SELECT CAST(o_orderkey % 8 AS BIGINT) AS bucket,
            count(*) AS n,
            sum(graft_cat.fns.hardsig(
              CAST(round(o_totalprice * 100) AS BIGINT) - 15000000)) AS sig_sum,
            graft_cat.fns.ssq(CAST(o_orderkey % 1000 AS BIGINT)) AS key_ssq
          FROM cat_fn_orders_$tag
          GROUP BY 1 ORDER BY 1""")
  }

  val functionCatalogQueryOracle: String =
    """SELECT CAST(o_orderkey % 8 AS BIGINT) AS bucket,
         count(*) AS n,
         CAST(sum(least(1000000, greatest(0,
           500000 + (CAST(round(o_totalprice * 100) AS BIGINT) - 15000000)
             // 1024))) AS BIGINT) AS sig_sum,
         CAST(sum(CAST(o_orderkey % 1000 AS BIGINT)
           * CAST(o_orderkey % 1000 AS BIGINT)) AS BIGINT) AS key_ssq
       FROM orders GROUP BY 1 ORDER BY 1"""
}
