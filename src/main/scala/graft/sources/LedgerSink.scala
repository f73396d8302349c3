package graft.sources

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
import org.apache.spark.sql.connector.expressions.{Expression => ConnectorExpression, Expressions, SortOrder => ConnectorSortOrder, Transform}
import org.apache.spark.sql.connector.expressions.aggregate.{AggregateFunc, Aggregation, CountStar, Max => AggMax, Min => AggMin}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.sources.{EqualTo, Filter, GreaterThan, GreaterThanOrEqual, In, IsNotNull, IsNull, LessThan, LessThanOrEqual}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** The connector family's WRITE half: a transactional v2 sink with the
  * manifest commit protocol every exactly-once batch writer uses
  * (Hadoop FileOutputCommitter v2's problem, solved the Iceberg way):
  *
  *   1. every task attempt writes to its own staging file, named by
  *      (partition, task attempt) — attempts never collide;
  *   2. a task that finishes hands the driver a commit MESSAGE (its
  *      file name + row count); a task that dies just leaves garbage
  *      in staging;
  *   3. job commit writes a MANIFEST listing exactly the message
  *      files, via write-temp-then-atomic-rename — the rename IS the
  *      commit point; job abort deletes the staged files instead;
  *   4. readers enumerate the MANIFEST, never the directory — torn
  *      writes, duplicate attempts, and aborted jobs are invisible by
  *      construction, not by cleanup.
  *
  * Speculative/retried attempts are therefore harmless: both attempts
  * stage files, at most one message reaches commit, exactly one file
  * enters the manifest (the spec stages a fake duplicate attempt and
  * pins its invisibility).
  *
  * The on-disk format is deliberately the engine's own (one UTF-8
  * line per row, fields percent-escaped, doubles as
  * `Double.toHexString` for bit-exact round-trips, `\N` for null) —
  * the point is the COMMIT PROTOCOL, not a parquet rewrite; the
  * reference gets this protocol for free from S3 + Glue job
  * boundaries (01_sales_revenue_etl.py:96-101 writes whole
  * partitioned prefixes), and this
  * is the same guarantee expressed at the connector layer.
  *
  * Supported column types: long, int, double, string (the fixture
  * entities' surface). Append mode unions manifests; overwrite
  * truncates first. Single-writer discipline is documented, not
  * locked (same as a Hive static partition overwrite).
  */
class LedgerSink extends TableProvider {

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val dir = Option(options.get("path")).getOrElse(
      throw new IllegalArgumentException("ledger sink requires a path option"))
    // time travel / CDC: the requested VERSION's schema, not the live
    // one — an overwrite or evolution commit may have changed it (a
    // from-only CDC read targets the current version, i.e. None).
    // `tagAsOf` is a NAMED version (see [[LedgerRefs]]): resolving the
    // tag here makes a tag read byte-identical to the versionAsOf read
    // of its target. A `wapId` read resolves the STAGED manifest —
    // the audit half of write-audit-publish.
    val version = Option(options.get("versionAsOf")).map(_.toInt)
      .orElse(Option(options.get("tagAsOf"))
        .map(t => LedgerRefs.resolveTag(Paths.get(dir), t)))
      .orElse(Option(options.get("timestampAsOf")).map(t =>
        LedgerSink.versionForTimestampMemo(Paths.get(dir),
          LedgerSink.parseTsMillis(t))))
      .orElse(Option(options.get("changesToVersion")).map(_.toInt))
    // absent staged manifest falls through to the live one — the
    // pre-stage WRITE case (writes carry external metadata, but be
    // robust if a caller probes the schema before staging)
    Option(options.get("wapId"))
      .flatMap(id => LedgerSink.readWapOpt(Paths.get(dir), id)) match {
      case Some(w) => return w.schema
      case None => ()
    }
    Option(options.get("branch")).foreach { b =>
      return LedgerSink.readBranchState(Paths.get(dir), b,
        LedgerRefs.branchFork(Paths.get(dir), b)).schema
    }
    LedgerSink.readManifestAt(Paths.get(dir), version) match {
      case Some(m) =>
        // the row-level CHANGE FEED (Delta CDF contract) appends the
        // change metadata columns to the version's schema
        if (Option(options.get("readChangeFeed")).exists(_.toBoolean))
          StructType(m.schema.fields ++ LedgerSink.cdfColumns)
        else m.schema
      case None => throw new IllegalArgumentException(
        s"no committed ledger manifest under $dir")
    }
  }

  // Writes hand us the dataframe's schema (external metadata).
  override def supportsExternalMetadata(): Boolean = true

  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table = {
    val dir = Option(properties.get("path")).getOrElse(
      throw new IllegalArgumentException("ledger sink requires a path option"))
    // changesFromVersion without changesToVersion means "from there to
    // the current version" — silently ignoring the option would turn
    // an intended incremental read into a full-table re-read
    val changes = Option(properties.get("changesFromVersion"))
      .orElse(Option(properties.get("changesToVersion"))).map { _ =>
        (Option(properties.get("changesFromVersion")).map(_.toInt).getOrElse(0),
          Option(properties.get("changesToVersion")).map(_.toInt)
            .getOrElse(LedgerSink.currentVersion(Paths.get(dir))))
      }
    // the state-selecting options are mutually exclusive — silently
    // preferring one would serve (e.g.) the branch head labeled as a
    // versionAsOf read
    val stateOpts = Seq("versionAsOf", "timestampAsOf", "tagAsOf", "wapId",
      "branch", "changesFromVersion", "changesToVersion", "readChangeFeed")
      .filter(k => Option(properties.get(k)).isDefined)
    val exclusive = stateOpts.filterNot(_.startsWith("changes"))
    val changesPresent = stateOpts.exists(_.startsWith("changes"))
    if (exclusive.length > 1 ||
      (changesPresent && exclusive.exists(_ != "readChangeFeed")))
      throw new IllegalArgumentException(
        s"conflicting ledger read options: ${stateOpts.mkString(", ")} — " +
          "versionAsOf/timestampAsOf/tagAsOf/wapId/branch/readChangeFeed " +
          "select different table states; pass exactly one (changes " +
          "ranges combine only with readChangeFeed)")
    new LedgerTable(Paths.get(dir), schema,
      Option(properties.get("versionAsOf")).map(_.toInt)
        .orElse(Option(properties.get("tagAsOf"))
          .map(t => LedgerRefs.resolveTag(Paths.get(dir), t)))
        .orElse(Option(properties.get("timestampAsOf")).map(t =>
          LedgerSink.versionForTimestampMemo(Paths.get(dir),
            LedgerSink.parseTsMillis(t)))),
      changes,
      LedgerSink.partitionSpecOf(partitioning),
      rowLevelChanges =
        Option(properties.get("readChangeFeed")).exists(_.toBoolean),
      wap = Option(properties.get("wapId")),
      branch = Option(properties.get("branch")))
  }
}

object LedgerSink {
  private[sources] val ManifestName = "_MANIFEST"
  private[sources] val NullMark = "\\N"

  private[sources] def checkSchema(schema: StructType): Unit =
    schema.fields.foreach { f =>
      f.dataType match {
        case LongType | IntegerType | DoubleType | StringType => ()
        case other => throw new IllegalArgumentException(
          s"ledger sink does not support ${f.name}: $other")
      }
    }

  // ---- partition transforms ----

  /** One partition-spec field by NAME: `kind` is identity / bucket /
    * days, `param` the bucket count (0 otherwise). */
  private[sources] case class NamedPartField(
      name: String, kind: String, param: Int)

  /** One partition-spec field by FIELD ID (the manifest form — the
    * spec survives renames). Identity renders as the bare id,
    * byte-compatible with pre-transform manifests; transforms render
    * as `bucket:<n>:<id>` / `days:<id>` tokens. */
  private[sources] case class PartField(fieldId: Int, kind: String, param: Int) {
    def render: String = kind match {
      case "identity" => fieldId.toString
      case "bucket" => s"bucket:$param:$fieldId"
      case "days" => s"days:$fieldId"
    }
  }

  private[sources] object PartField {
    def identity(id: Int): PartField = PartField(id, "identity", 0)
    def parse(tok: String): PartField = tok.split(":") match {
      case Array(id) => PartField(id.toInt, "identity", 0)
      case Array("bucket", n, id) => PartField(id.toInt, "bucket", n.toInt)
      case Array("days", id) => PartField(id.toInt, "days", 0)
      case _ => throw new IllegalArgumentException(
        s"unparseable partition-spec token '$tok'")
    }
  }

  /** The bucket transform: floorMod over the integral key. Chosen over
    * a murmur-style mix DELIBERATELY: the value is transparent, the
    * DuckDB oracle can recompute it exactly (`((v % n) + n) % n`), and
    * the pruning/SPJ contracts depend only on determinism and
    * same-function-both-sides, not on mixing quality. MUST stay in
    * lockstep with [[GraftFunctions]]' catalog-served `bucket`
    * (Spark's SPJ resolves the scan-reported transform through it). */
  private[sources] def bucketValue(v: Long, n: Int): Int =
    java.lang.Math.floorMod(v, n.toLong).toInt

  /** The days transform over epoch-millis longs: floorDiv to days
    * since epoch (negative-safe). Same lockstep note as
    * [[bucketValue]]. */
  private[sources] def dayValue(millis: Long): Int =
    java.lang.Math.floorDiv(millis, 86400000L).toInt

  /** Partition columns exclude DOUBLE (partition values prune by
    * rendered text; doubles render as hex no literal would match), and
    * bucket/days additionally require an integral column (days reads
    * it as epoch millis). */
  private[sources] def checkPartitionSpec(
      schema: StructType, spec: Seq[NamedPartField]): Unit =
    spec.foreach { p =>
      val f = schema.fields(schema.fieldIndex(p.name)) // throws if missing
      if (f.dataType == DoubleType)
        throw new UnsupportedOperationException(
          s"partition column ${f.name} is DOUBLE; partition values prune " +
            "by rendered text — use long/int/string")
      if (p.kind != "identity" &&
          f.dataType != LongType && f.dataType != IntegerType)
        throw new UnsupportedOperationException(
          s"${p.kind}(${f.name}) needs an integral column, got ${f.dataType}")
      if (p.kind == "bucket" && p.param <= 0)
        throw new IllegalArgumentException(
          s"bucket(${p.param}, ${p.name}): bucket count must be positive")
    }

  private[sources] def checkPartitionCols(
      schema: StructType, names: Seq[String]): Unit =
    checkPartitionSpec(schema, names.map(NamedPartField(_, "identity", 0)))

  /** Resolve requested partition transforms. Identity covers the
    * reference's y/m/d partitionBy (01_sales_revenue_etl.py:96-101);
    * bucket and days are the two transforms a 100 TB fact layout
    * actually keys SPJ on (Iceberg's bucket[N] and day partitioning).
    * Anything else (years/hours/truncate) is refused rather than
    * silently identity'd. */
  private[sources] def partitionSpecOf(
      transforms: Array[Transform]): Seq[NamedPartField] =
    transforms.toSeq.map { t =>
      def ref1: String = {
        val rs = t.references()
        if (rs.length != 1 || rs(0).fieldNames().length != 1)
          throw new UnsupportedOperationException(
            s"ledger partition transforms take one flat column, got $t")
        rs(0).fieldNames()(0)
      }
      t.name match {
        case "identity" => NamedPartField(ref1, "identity", 0)
        case "bucket" =>
          val n = t.arguments().collectFirst {
            case l: org.apache.spark.sql.connector.expressions.Literal[_] =>
              l.value() match {
                case x: Number => x.intValue
                case other => throw new IllegalArgumentException(
                  s"bucket count literal $other in $t")
              }
          }.getOrElse(throw new IllegalArgumentException(
            s"bucket transform missing its count: $t"))
          NamedPartField(ref1, "bucket", n)
        case "days" => NamedPartField(ref1, "days", 0)
        case other => throw new UnsupportedOperationException(
          s"ledger tables support identity/bucket/days partition " +
            s"transforms, got $other")
      }
    }

  /** A named spec field back to its connector Transform. */
  private[sources] def toTransform(p: NamedPartField): Transform = p.kind match {
    case "identity" => Expressions.identity(p.name)
    case "bucket" => Expressions.bucket(p.param, p.name)
    case "days" => Expressions.days(p.name)
  }

  /** %-escape the structural bytes (field sep, newline family, the
    * escape char itself, and TAB — partition values ride inside the
    * tab-separated manifest); everything else passes through
    * verbatim. Decoding is generic %XX, so adding an escaped byte is
    * backward-compatible with data files written before it. */
  private[sources] def esc(s: String): String = {
    val b = new StringBuilder(s.length)
    s.foreach {
      case '%' => b.append("%25")
      case ',' => b.append("%2C")
      case '\n' => b.append("%0A")
      case '\r' => b.append("%0D")
      case '\\' => b.append("%5C")
      case '\t' => b.append("%09")
      case c => b.append(c)
    }
    b.toString
  }

  private[sources] def unesc(s: String): String = {
    val b = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      if (s.charAt(i) == '%' && i + 3 <= s.length) {
        b.append(Integer.parseInt(s.substring(i + 1, i + 3), 16).toChar)
        i += 3
      } else { b.append(s.charAt(i)); i += 1 }
    }
    b.toString
  }

  /** One field's on-disk text (shared by the row codec and the
    * partition-value renderer, so pruning compares the exact bytes
    * the writer produced). */
  private[sources] def encodeValue(dt: DataType, row: InternalRow, i: Int): String =
    if (row.isNullAt(i)) NullMark
    else dt match {
      case LongType => row.getLong(i).toString
      case IntegerType => row.getInt(i).toString
      case DoubleType => java.lang.Double.toHexString(row.getDouble(i))
      case StringType => esc(row.getUTF8String(i).toString)
      case other => throw new IllegalStateException(other.toString)
    }

  /** A column DEFAULT rendered in the row codec's value encoding, so
    * the read side decodes it with the same [[parseValue]] that
    * decodes data bytes (doubles keep the codec's exact hex form). */
  private[sources] def encodeDefault(dt: DataType, v: Any): String =
    (dt, v) match {
      case (LongType, x: java.lang.Long) => x.toString
      case (LongType, x: java.lang.Integer) => x.longValue.toString
      case (IntegerType, x: java.lang.Integer) => x.toString
      case (DoubleType, x: java.lang.Double) =>
        java.lang.Double.toHexString(x)
      case (StringType, x: UTF8String) => esc(x.toString)
      case (StringType, x: String) => esc(x)
      case other => throw new UnsupportedOperationException(
        s"unsupported DEFAULT literal $v for type $dt")
    }

  /** Per-output-column initial defaults for one (manifest, binding):
    * non-null exactly where the file LACKS the column's field id and
    * the manifest registers a default for it. Empty when no column
    * qualifies, so the no-defaults path ships nothing extra. */
  private[sources] def defaultsArray(m: Manifest, positions: Array[Int],
      colIds: Array[Int]): Array[String] = {
    if (m.defaults.isEmpty) return Array.empty
    val out = positions.indices.map(i =>
      if (positions(i) == -1 && colIds(i) >= 0)
        m.defaults.get(colIds(i)).orNull
      else null).toArray
    if (out.forall(_ == null)) Array.empty else out
  }

  /** A stored default re-rendered as a SQL literal (for the
    * CURRENT_DEFAULT schema metadata Spark's INSERT analysis reads).
    * Doubles go through an explicit CAST so the text can't parse as
    * DECIMAL; strings backslash-escape the two metacharacters. */
  private[sources] def defaultSqlText(dt: DataType, enc: String): String =
    dt match {
      case StringType =>
        "'" + unesc(enc).replace("\\", "\\\\")
          .replace("'", "\\'") + "'"
      case DoubleType =>
        s"CAST('${java.lang.Double.parseDouble(enc)}' AS DOUBLE)"
      case _ => enc
    }

  /** A pushed-filter literal rendered the same way [[encodeValue]]
    * renders data — the text the partition pruner compares against. */
  private[sources] def encodeLiteral(dt: DataType, v: Any): Option[String] =
    (dt, v) match {
      case (_, null) => None
      case (LongType, x: java.lang.Long) => Some(x.toString)
      case (LongType, x: java.lang.Integer) => Some(x.longValue.toString)
      case (IntegerType, x: java.lang.Integer) => Some(x.toString)
      case (StringType, x: String) => Some(esc(x))
      case _ => None
    }

  /** One partition-TUPLE entry for a row under a spec field: identity
    * renders the raw value ([[encodeValue]]); bucket/days render the
    * TRANSFORMED integer. Null transforms to null (NullMark) for every
    * kind. */
  private[sources] def encodePartValue(dt: DataType, row: InternalRow,
      i: Int, kind: String, param: Int): String =
    if (row.isNullAt(i)) NullMark
    else kind match {
      case "identity" => encodeValue(dt, row, i)
      case k =>
        val v = dt match {
          case LongType => row.getLong(i)
          case IntegerType => row.getInt(i).toLong
          case other => throw new IllegalStateException(
            s"$k over non-integral $other")
        }
        if (k == "bucket") bucketValue(v, param).toString
        else dayValue(v).toString
    }

  /** A pushed-filter literal TRANSFORMED and rendered like
    * [[encodePartValue]] — what equality pruning on a transformed
    * partition column compares against. */
  private[sources] def encodePartLiteral(dt: DataType, v: Any,
      kind: String, param: Int): Option[String] =
    kind match {
      case "identity" => encodeLiteral(dt, v)
      case k =>
        val lv: Option[Long] = v match {
          case x: java.lang.Long => Some(x.longValue)
          case x: java.lang.Integer => Some(x.longValue)
          case _ => None
        }
        lv.map(l =>
          if (k == "bucket") bucketValue(l, param).toString
          else dayValue(l).toString)
    }

  private[sources] def encodeRow(row: InternalRow, schema: StructType): String =
    schema.fields.zipWithIndex.map { case (f, i) =>
      encodeValue(f.dataType, row, i)
    }.mkString(",")

  private[sources] def parseValue(dt: DataType, s: String): Any = dt match {
    case LongType => s.toLong
    case IntegerType => s.toInt
    case DoubleType => java.lang.Double.parseDouble(s)
    case StringType => UTF8String.fromString(unesc(s))
    case other => throw new IllegalStateException(other.toString)
  }

  /** Whole-row positional decode against one schema (the pre-pruning
    * read path; projected reads go through [[decodeProjected]]).
    * A row written before a trailing ADD COLUMN has FEWER fields —
    * the missing TRAILING columns read as NULL. */
  private[sources] def decodeRow(line: String, schema: StructType): InternalRow = {
    val parts = line.split(",", -1)
    require(parts.length <= schema.length, s"ragged ledger line: $line")
    new GenericInternalRow(schema.fields.zipWithIndex.map { case (f, i) =>
      if (i >= parts.length || parts(i) == NullMark) null
      else parseValue(f.dataType, parts(i)): Any
    })
  }

  /** Projected decode: `positions(i)` is the line-field index backing
    * output column i (-1, beyond-width, or the null mark read as
    * NULL — one mechanism covers column pruning, ADD COLUMN's missing
    * trailing fields, and DROP COLUMN's orphaned extra fields). */
  private[sources] def decodeProjected(line: String, positions: Array[Int],
      types: Array[DataType], width: Int): InternalRow = {
    val parts = line.split(",", -1)
    require(parts.length <= width, s"ragged ledger line: $line")
    val out = new GenericInternalRow(positions.length)
    var i = 0
    while (i < positions.length) {
      val p = positions(i)
      if (p >= 0 && p < parts.length && parts(p) != NullMark)
        out.update(i, parseValue(types(i), parts(p)))
      i += 1
    }
    out
  }

  /** One committed file plus its read-planning metadata:
    *   - min/max data-skipping stats over `statId`'s non-null values;
    *   - `ids`: the FIELD IDS of the file's columns in written order
    *     (None = a pre-evolution legacy file whose columns are a
    *     positional prefix of its manifest's schema);
    *   - `partVals`: the file's partition value tuple in
    *     partition-spec order (transformed values for bucket/days);
    *   - `dv`: an optional DELETION VECTOR sidecar (merge-on-read
    *     position deletes): readers skip the listed row ordinals, so a
    *     DELETE costs O(rows deleted), not a file rewrite. `rows` stays
    *     the PHYSICAL line count; stats stay valid (deletion only
    *     narrows the true range, bounds remain conservative).
    * Field ids are the Iceberg idea at this format's scale: names may
    * be renamed and columns dropped without touching a data file,
    * because readers bind columns by id, not by name or position. */
  private[sources] case class FileEntry(
      file: String, rows: Long, min: Option[Long], max: Option[Long],
      ids: Option[Seq[Int]] = None, statId: Option[Int] = None,
      partVals: Option[Seq[String]] = None,
      dv: Option[String] = None,
      bloom: Option[String] = None,
      spec: Option[Int] = None,
      seq: Option[Int] = None) {
    def render: String =
      s"$file\t$rows\t${min.getOrElse("-")}\t${max.getOrElse("-")}\t" +
        s"${ids.map(_.mkString(",")).getOrElse("-")}\t" +
        s"${statId.map(_.toString).getOrElse("-")}\t" +
        s"${partVals.map(_.mkString(",")).getOrElse("-")}" + {
          // optional trailing columns (dv, bloom, spec id, data
          // sequence): placeholders fill interior gaps, trailing
          // absents render nothing — every pre-existing manifest stays
          // byte-identical
          val tail = Seq(dv.getOrElse("-"), bloom.getOrElse("-"),
            spec.map(_.toString).getOrElse("-"),
            seq.map(_.toString).getOrElse("-"))
            .reverse.dropWhile(_ == "-").reverse
          tail.map("\t" + _).mkString
        }
  }

  private[sources] object FileEntry {
    def parse(line: String): FileEntry = {
      val p = line.split("\t", -1)
      def opt(i: Int): Option[String] =
        if (i >= p.length || p(i) == "-") None else Some(p(i))
      FileEntry(p(0), p(1).toLong,
        opt(2).map(_.toLong), opt(3).map(_.toLong),
        opt(4).map(_.split(",", -1).toSeq.filter(_.nonEmpty).map(_.toInt)),
        opt(5).map(_.toInt),
        opt(6).map(_.split(",", -1).toSeq),
        opt(7),
        opt(8),
        opt(9).map(_.toInt),
        opt(10).map(_.toInt))
    }
  }

  /** One EQUALITY-DELETE file (the Iceberg v2 equality-delete design):
    * `file` holds encoded key TUPLES (same field codec as data rows,
    * comma-joined), `fieldIds` names the key columns by field id
    * (rename-safe), and `version` is the commit that installed it —
    * the delete applies to exactly the data files whose data sequence
    * ([[FileEntry.seq]]) is STRICTLY below it, so a file appended in
    * the same commit (the upsert case) or later is untouched while
    * every older file's matching rows are dead. Version 0 is the
    * "stamp me at commit" placeholder [[writeManifestAtomic]] fills. */
  private[sources] case class EqDelete(file: String, version: Int,
      fieldIds: Seq[Int]) {
    def render: String = s"$file@$version@${fieldIds.mkString("|")}"
  }

  private[sources] object EqDelete {
    def parse(s: String): EqDelete = {
      val p = s.split("@", -1)
      EqDelete(p(0), p(1).toInt,
        p(2).split("\\|", -1).toSeq.filter(_.nonEmpty).map(_.toInt))
    }
  }

  /** [[Manifest.binding]]: schema, field ids, partition spec, spec id
    * and the (name, sql) constraint set. */
  private[sources] case class Binding(schema: StructType, ids: Seq[Int],
      partitionSpec: Seq[PartField], specId: Int,
      constraints: Seq[(String, String)])

  // ---- bloom-filter file skipping (the Delta bloom-index / Iceberg
  // puffin idea at this format's scale) ----

  /** Index of the bloom column: the first string field, if any —
    * the positional convention [[statColIndex]] set. Point predicates
    * on a high-cardinality string column are exactly what min/max
    * stats can't prune (an unsorted key's [min,max] spans everything);
    * a per-file bloom sidecar makes `WHERE key = x` skip all but the
    * files that may hold x. Sidecars live NEXT TO the data (manifest
    * stays line-sized per file; the planner reads sidecars only for
    * files other pruning kept — the puffin trade), are immutable, are
    * vacuum-protected while referenced, and carry the FIELD ID they
    * were built over, so schema evolution can never alias a bloom
    * onto a different column. Deletion vectors leave blooms valid
    * (a deleted row's value may linger as a false positive — blooms
    * only ever over-approximate, and every filter is still evaluated
    * row-wise). */
  private[sources] def bloomColIndex(schema: StructType): Option[Int] = {
    val i = schema.fields.indexWhere(_.dataType == StringType)
    if (i < 0) None else Some(i)
  }

  private[sources] val BloomK = 5
  private[sources] val BloomBitsPerKey = 10

  /** Deterministic 64-bit FNV-1a + murmur finalizer over UTF-8 bytes —
    * self-contained so the executor-side writer and the driver-side
    * planner can never disagree. */
  private[sources] def bloomHash(s: String, seed: Long): Long = {
    val bytes = s.getBytes(UTF_8)
    var h = seed ^ 0xcbf29ce484222325L
    var i = 0
    while (i < bytes.length) {
      h ^= (bytes(i) & 0xffL); h *= 0x100000001b3L; i += 1
    }
    h ^= h >>> 33; h *= 0xff51afd7ed558ccdL
    h ^= h >>> 33; h *= 0xc4ceb9fe1a85ec53L
    h ^= h >>> 33
    h
  }

  /** Build a bloom from the (h1, h2) pairs of a file's distinct
    * values: m = 10 bits/key (fp ≈ 1% at k = 5), double hashing
    * g_i = h1 + i·h2. */
  private[sources] def bloomBuild(pairs: Iterable[(Long, Long)])
      : (Int, Array[Byte]) = {
    val n = pairs.size
    val m = math.max(1024, n * BloomBitsPerKey)
    val bits = new Array[Byte]((m + 7) / 8)
    pairs.foreach { case (h1, h2) =>
      var i = 0
      while (i < BloomK) {
        val g = (((h1 + i * h2) % m) + m) % m
        bits(g.toInt >> 3) = (bits(g.toInt >> 3) | (1 << (g.toInt & 7))).toByte
        i += 1
      }
    }
    (m, bits)
  }

  private[sources] val BloomSeed1 = 0x9747b28c17ea3173L
  private[sources] val BloomSeed2 = 0x85ebca6bc2b2ae35L

  private[sources] def bloomMightContain(m: Int, bits: Array[Byte],
      value: String): Boolean = {
    val h1 = bloomHash(value, BloomSeed1)
    val h2 = bloomHash(value, BloomSeed2)
    var i = 0
    while (i < BloomK) {
      val g = ((((h1 + i * h2) % m) + m) % m).toInt
      if ((bits(g >> 3) & (1 << (g & 7))) == 0) return false
      i += 1
    }
    true
  }

  /** Abort/conflict cleanup for a staged-but-uncommitted entry: the
    * data file and its bloom sidecar (staged entries never carry a
    * deletion vector — DVs are staged separately by the commit that
    * installs them). */
  private[sources] def deleteStagedEntry(dir: Path, e: FileEntry): Unit = {
    Files.deleteIfExists(dir.resolve(e.file)): Unit
    e.bloom.foreach(b => Files.deleteIfExists(dir.resolve(b)): Unit)
  }

  /** Delete `root` and everything under it, children first; a missing
    * `root` is a no-op. The walk stream is closed (it holds an open
    * directory fd until then). */
  private[graft] def deleteRecursively(root: Path): Unit =
    if (Files.exists(root)) {
      val s = Files.walk(root).sorted(java.util.Comparator.reverseOrder())
      try s.iterator().asScala.foreach(Files.deleteIfExists(_))
      finally s.close()
    }

  /** Sidecar codec: line 1 = `m k fieldId`, line 2 = base64 bits. */
  private[sources] def writeBloomSidecar(path: Path, m: Int,
      fieldId: Int, bits: Array[Byte]): Unit =
    Files.write(path,
      (s"$m $BloomK $fieldId\n" +
        java.util.Base64.getEncoder.encodeToString(bits) + "\n")
        .getBytes(UTF_8))

  private[sources] def readBloomSidecar(path: Path)
      : (Int, Int, Int, Array[Byte]) = {
    val lines = Files.readAllLines(path, UTF_8)
    val h = lines.get(0).split(" ")
    (h(0).toInt, h(1).toInt, h(2).toInt,
      java.util.Base64.getDecoder.decode(lines.get(1)))
  }

  /** Index of the data-skipping stats column: the first long/int
    * field, if any. */
  private[sources] def statColIndex(schema: StructType): Option[Int] = {
    val i = schema.fields.indexWhere(f =>
      f.dataType == LongType || f.dataType == IntegerType)
    if (i < 0) None else Some(i)
  }

  /** A committed table state: the schema, its field-id assignment
    * (`ids(i)` is field i's id; `nextId` has never been assigned, so
    * a dropped id can never be reused and alias old bytes onto a new
    * column), the partition spec (transforms over field IDS, so
    * partition columns survive renames), and the file list. */
  private[sources] case class Manifest(
      schema: StructType, ids: Seq[Int], nextId: Int,
      partitionSpec: Seq[PartField], files: Seq[FileEntry],
      props: Map[String, String] = Map.empty,
      specId: Int = 0,
      oldSpecs: Map[Int, Seq[PartField]] = Map.empty,
      eqDeletes: Seq[EqDelete] = Seq.empty,
      // INITIAL DEFAULTS by FIELD ID (the Delta / Iceberg-v3 ADD
      // COLUMN ... DEFAULT semantics): a data file LACKING the id
      // reads this value instead of NULL; files carrying the id keep
      // their own bytes (an explicit NULL stays NULL). Keyed by id so
      // renames keep the default and a re-added name never inherits
      // one. Values are row-codec-encoded text ([[encodeDefault]]).
      defaults: Map[Int, String] = Map.empty) {

    /** The equality deletes that apply to `e`: installed by a commit
      * strictly after the file's data sequence. */
    def eqDeletesFor(e: FileEntry): Seq[EqDelete] =
      eqDeletes.filter(_.version > e.seq.getOrElse(0))

    /** Every field id any active equality delete keys on. */
    def eqDeleteFieldIds: Set[Int] = eqDeletes.flatMap(_.fieldIds).toSet

    def idOf(name: String): Int = ids(schema.fieldIndex(name))
    def idMap: Map[String, Int] = schema.fieldNames.zip(ids).toMap
    def fieldOfId(id: Int): StructField = schema.fields(ids.indexOf(id))
    def partitionIds: Seq[Int] = partitionSpec.map(_.fieldId)
    def partitionNames: Seq[String] = partitionIds.map(fieldOfId(_).name)

    // ---- partition-spec evolution (the Iceberg multi-spec model) ----

    /** The spec a FILE was written under: its explicit stamp, else the
      * current spec ([[LedgerMaintenance.alterPartitionSpec]] stamps
      * every pre-evolution entry before switching, so "unstamped"
      * always means "current"). */
    def specOf(e: FileEntry): Int = e.spec.getOrElse(specId)

    def specFields(id: Int): Seq[PartField] =
      if (id == specId) partitionSpec
      else oldSpecs.getOrElse(id, throw new IllegalStateException(
        s"file references unknown partition spec $id"))

    /** A file's spec resolved to column NAMES (current names — specs
      * are field-id based, so renames never detach them). */
    def namedSpecOf(e: FileEntry): Seq[NamedPartField] =
      specFields(specOf(e)).map(p =>
        NamedPartField(fieldOfId(p.fieldId).name, p.kind, p.param))

    /** Every field id any spec (current or historical) references —
      * dropping such a column would orphan the spec of files still
      * carrying its tuples. */
    def allSpecFieldIds: Set[Int] =
      (partitionSpec ++ oldSpecs.values.flatten).map(_.fieldId).toSet

    /** True when every file was written under the CURRENT spec — the
      * precondition for spec-homogeneous planning (SPJ key grouping,
      * partition-grouped aggregate pushdown). */
    def specHomogeneous: Boolean = files.forall(e => specOf(e) == specId)

    def namedPartitionSpec: Seq[NamedPartField] = partitionSpec.map(p =>
      NamedPartField(fieldOfId(p.fieldId).name, p.kind, p.param))
    def statId: Option[Int] = statColIndex(schema).map(ids(_))

    /** The definition a writer binds against: staged files encode
      * under these ids, carry tuples of this spec and passed these
      * constraints. A commit whose current binding differs from the
      * one its writer captured is stale. */
    def binding: Binding = Binding(schema, ids, partitionSpec, specId,
      LedgerConstraints.constraintsOf(props))

    def render: Seq[String] =
      (schema.toDDL +:
        (Seq(s"#ids:${ids.mkString(",")}", s"#nextid:$nextId") ++
          (if (partitionSpec.nonEmpty)
            Seq(s"#partition:${partitionSpec.map(_.render).mkString(",")}")
          else Nil) ++
          // spec-evolution headers only once a spec change happened —
          // never-evolved manifests stay byte-identical
          (if (specId != 0 || oldSpecs.nonEmpty)
            Seq(s"#specid:$specId")
          else Nil) ++
          (if (oldSpecs.nonEmpty)
            Seq("#oldspecs:" + oldSpecs.toSeq.sortBy(_._1).map {
              case (id, fs) => s"$id=${fs.map(_.render).mkString("|")}"
            }.mkString(";"))
          else Nil) ++
          (if (eqDeletes.nonEmpty)
            Seq("#eqdels:" + eqDeletes.map(_.render).mkString(";"))
          else Nil) ++
          (if (defaults.nonEmpty)
            // escProp plus ';' (this header's own separator, which
            // prop values never needed escaped)
            Seq("#defaults:" + defaults.toSeq.sortBy(_._1).map {
              case (id, v) =>
                s"$id=${Manifest.escProp(v).replace(";", "%3B")}"
            }.mkString(";"))
          else Nil) ++
          (if (props.nonEmpty)
            Seq("#props:" + props.toSeq.sortBy(_._1).map { case (k, v) =>
              s"${Manifest.escProp(k)}=${Manifest.escProp(v)}"
            }.mkString(","))
          else Nil))) ++
        files.map(_.render)
  }

  private[sources] object Manifest {
    /** Headers are `#key:value` lines between the DDL and the file
      * entries; a manifest without them (pre-evolution format) reads
      * as ids 1..n, unpartitioned — byte-for-byte compatible (and an
      * identity-only spec still renders as the bare-id list). */
    def parse(lines: Seq[String]): Manifest = {
      val schema = StructType.fromDDL(lines.head)
      val (headers, entries) = lines.tail.partition(_.startsWith("#"))
      val h = headers.map { s =>
        val i = s.indexOf(':')
        (s.substring(1, i), s.substring(i + 1))
      }.toMap
      def intList(k: String): Option[Seq[Int]] =
        h.get(k).map(_.split(",", -1).toSeq.filter(_.nonEmpty).map(_.toInt))
      val ids = intList("ids").getOrElse(1 to schema.length)
      Manifest(schema, ids,
        h.get("nextid").map(_.toInt)
          .getOrElse(ids.maxOption.getOrElse(0) + 1),
        h.get("partition").map(_.split(",", -1).toSeq.filter(_.nonEmpty)
          .map(PartField.parse)).getOrElse(Nil),
        entries.map(FileEntry.parse),
        h.get("props").map(_.split(",", -1).toSeq.filter(_.nonEmpty)
          .map { kv =>
            val i = kv.indexOf('=')
            (unescProp(kv.substring(0, i)), unescProp(kv.substring(i + 1)))
          }.toMap).getOrElse(Map.empty),
        h.get("specid").map(_.toInt).getOrElse(0),
        h.get("oldspecs").map(_.split(";", -1).toSeq.filter(_.nonEmpty)
          .map { s =>
            val i = s.indexOf('=')
            val toks = s.substring(i + 1)
            (s.substring(0, i).toInt,
              if (toks.isEmpty) Seq.empty[PartField]
              else toks.split("\\|", -1).toSeq.map(PartField.parse))
          }.toMap).getOrElse(Map.empty),
        h.get("eqdels").map(_.split(";", -1).toSeq.filter(_.nonEmpty)
          .map(EqDelete.parse)).getOrElse(Seq.empty),
        h.get("defaults").map(_.split(";", -1).toSeq.filter(_.nonEmpty)
          .map { kv =>
            val i = kv.indexOf('=')
            (kv.substring(0, i).toInt,
              unescProp(kv.substring(i + 1).replace("%3B", ";")))
          }.toMap).getOrElse(Map.empty))
    }

    /** TABLE PROPERTIES travel in a `#props:` header (absent when
      * empty — byte-compatible with every older manifest). Keys and
      * values percent-escape the header's structural characters. */
    private[sources] def escProp(s: String): String = s.flatMap {
      case '%' => "%25"
      case ',' => "%2C"
      case '=' => "%3D"
      case '\n' => "%0A"
      case c => c.toString
    }

    private[sources] def unescProp(s: String): String =
      s.replace("%2C", ",").replace("%3D", "=")
        .replace("%0A", "\n").replace("%25", "%")

    def fresh(schema: StructType, spec: Seq[NamedPartField]): Manifest = {
      checkSchema(schema)
      checkPartitionSpec(schema, spec)
      val ids = 1 to schema.length
      Manifest(schema, ids, schema.length + 1,
        spec.map(p => PartField(ids(schema.fieldIndex(p.name)),
          p.kind, p.param)), Seq.empty)
    }

    def fresh(schema: StructType, partitionNames: Seq[String])
        (implicit d: DummyImplicit): Manifest =
      fresh(schema, partitionNames.map(NamedPartField(_, "identity", 0)))
  }

  // ---- LOG-STRUCTURED manifest storage (commit log + checkpoints) ----
  //
  // The naive layout (full manifest rewritten + fully archived per
  // commit) costs O(table's file count) of metadata I/O on EVERY
  // commit — at 100 TB (millions of files, epoch-grain streaming
  // commits) the metadata write dwarfs the data write. This layout is
  // the Delta-log/Iceberg-snapshot answer at this format's scale:
  //
  //   - `_MANIFEST` is a CHECKPOINT: the full state of some version C,
  //     carrying `#version:C`;
  //   - each commit k > C is a DELTA file `_LOG.vk` — the resulting
  //     HEADERS (schema/ids/spec/props are small) plus only the
  //     removed file names and added/replaced entries: O(delta) bytes,
  //     written with one atomic rename (the commit point);
  //   - every [[CheckpointEvery]] commits the checkpoint rolls forward
  //     (the old one is preserved as `_MANIFEST.c<C>` for time
  //     travel), so replay depth is bounded;
  //   - retention ([[LedgerRefs.expireVersions]]) materializes
  //     retained old versions as exact snapshots and drops the logs —
  //     history cost is O(retained), not O(commits).
  //
  // Version state sources, in resolution order: the live replay
  // (checkpoint + logs), exact snapshots `_MANIFEST.c<v>` (retention /
  // rolled checkpoints) and `_MANIFEST.v<v>` (the legacy full-archive
  // layout — still readable, so pre-log tables migrate in place on
  // their next commit).

  private[sources] def archiveName(v: Int): String = s"$ManifestName.v$v"
  private[sources] def checkpointName(v: Int): String = s"$ManifestName.c$v"
  private[sources] def logName(v: Int): String = s"_LOG.v$v"

  private val ArchiveRe = s"${ManifestName}\\.v(\\d+)".r
  private val CheckpointRe = s"${ManifestName}\\.c(\\d+)".r
  private val LogRe = "_LOG\\.v(\\d+)".r

  private[sources] val CheckpointEvery = 8

  private def listVersions(dir: Path, re: scala.util.matching.Regex)
      : Seq[Int] =
    if (!Files.isDirectory(dir)) Seq.empty
    else {
      val s = Files.list(dir)
      try s.iterator().asScala.flatMap(p =>
        p.getFileName.toString match {
          case re(v) => Some(v.toInt)
          case _ => None
        }).toSeq.sorted
      finally s.close()
    }

  /** Versions with an EXACT state snapshot on disk (legacy archives +
    * rolled/materialized checkpoints). */
  private def exactVersions(dir: Path): Seq[Int] =
    (listVersions(dir, ArchiveRe) ++ listVersions(dir, CheckpointRe))
      .distinct.sorted

  private def exactStateFile(dir: Path, v: Int): Option[Path] = {
    val c = dir.resolve(checkpointName(v))
    val a = dir.resolve(archiveName(v))
    if (Files.exists(c)) Some(c) else if (Files.exists(a)) Some(a) else None
  }

  /** The live checkpoint's `#version:` header; None = a pre-log
    * (legacy) manifest, or no manifest at all. */
  private def manifestVersion(dir: Path): Option[Int] = {
    val m = dir.resolve(ManifestName)
    if (!Files.exists(m)) return None
    Files.readAllLines(m, UTF_8).asScala
      .find(_.startsWith("#version:")).map(_.stripPrefix("#version:").toInt)
  }

  private def renderState(m: Manifest, v: Int,
      ts: Option[Long] = None): Seq[String] =
    m.render match {
      case head +: tail =>
        head +: ((s"#version:$v" +: ts.map(t => s"#ts:$t").toSeq) ++ tail)
    }

  // ---- commit timestamps (TIMESTAMP AS OF) ----
  //
  // Every commit records its wall-clock time as a `#ts:<epochMillis>`
  // header on its log delta (and on every exact state snapshot of the
  // version), monotonically bumped so two commits in one millisecond
  // still order — the Delta/Iceberg commit-timestamp contract that
  // `timestampAsOf` resolution needs. `Manifest.parse` ignores the
  // header, so timestamps are commit METADATA, not table state: the
  // no-op-rebase equality check (`cur.contains(next)`) stays
  // timestamp-blind and replayed streaming epochs still commit
  // nothing. Legacy tables (and legacy full archives) carry no
  // timestamps; `timestampAsOf` on a version without one fails loud
  // rather than inventing history.

  private[sources] def tsOfLines(lines: Seq[String]): Option[Long] =
    lines.find(_.startsWith("#ts:")).map(_.stripPrefix("#ts:").toLong)

  /** The recorded commit time of `v`, if any: its log delta, else an
    * exact snapshot of it, else the live checkpoint when the
    * checkpoint IS version v. */
  private[sources] def commitTs(dir: Path, v: Int): Option[Long] = {
    val log = dir.resolve(logName(v))
    if (Files.exists(log))
      tsOfLines(Files.readAllLines(log, UTF_8).asScala.toSeq)
    else exactStateFile(dir, v).flatMap(p =>
      tsOfLines(Files.readAllLines(p, UTF_8).asScala.toSeq))
      .orElse(
        if (manifestVersion(dir).contains(v))
          tsOfLines(Files.readAllLines(
            dir.resolve(ManifestName), UTF_8).asScala.toSeq)
        else None)
  }

  /** (version, commitMillis) for every readable version that recorded
    * one, ascending by version. */
  private[sources] def commitTimestamps(dir: Path): Seq[(Int, Long)] =
    (archivedVersions(dir) :+ currentVersion(dir))
      .flatMap(v => commitTs(dir, v).map(v -> _))

  /** Resolve a timestamp to the version CURRENT at that instant: the
    * greatest version whose commit time is <= `tsMillis` (Delta's
    * timestampAsOf contract). Fails loud before the first recorded
    * commit, and on tables with no timestamp metadata at all. */
  private[sources] def versionForTimestamp(dir: Path, tsMillis: Long): Int = {
    val known = commitTimestamps(dir)
    if (known.isEmpty) throw new IllegalArgumentException(
      s"ledger $dir has no commit-timestamp metadata " +
        "(legacy layout?) — use versionAsOf")
    val v = known.filter(_._2 <= tsMillis).map(_._1).maxOption.getOrElse(
      throw new IllegalArgumentException(
        s"timestamp $tsMillis is before the first recorded commit " +
          s"(${known.head._2}) of ledger $dir"))
    // resolution is among SURVIVING versions only — if v's immediate
    // successor was expired, the instant may belong to an expired
    // version whose clock died with its archive, and serving v would
    // be a silent stale read where the rest of the time-travel
    // contract fails loud (ADVICE r11). v == max means nothing ever
    // followed, so v IS the version current at the instant.
    val versions = known.map(_._1).toSet
    if (v != versions.max && !versions.contains(v + 1))
      throw new IllegalArgumentException(
        s"timestamp $tsMillis falls in an expired span of ledger $dir " +
          s"history: version ${v + 1} (the resolved version's successor) " +
          "was expired, so the version current at that instant is " +
          "unknowable — use versionAsOf or a retained timestamp")
    v
  }

  /** [[versionForTimestamp]] memoized over a short TTL: Spark resolves
    * a read's schema (inferSchema) and its table (getTable) in two
    * separate calls, and for a timestamp at-or-after "now" a commit
    * landing between them would bind the scan to a different version
    * than the inferred schema — versionAsOf/tagAsOf cannot diverge
    * this way, so timestampAsOf must not either (ADVICE r11). The TTL
    * keeps an unrelated LATER read (same timestamp, minutes on) seeing
    * current state. */
  private val tsResolutions =
    scala.collection.concurrent.TrieMap[(String, Long, Long), (Int, Long)]()
  private val TsMemoTtlMillis = 10000L

  private[sources] def versionForTimestampMemo(dir: Path,
      tsMillis: Long): Int = {
    val now = System.currentTimeMillis()
    tsResolutions.filterInPlace((_, va) => now - va._2 < TsMemoTtlMillis)
    // the table's CREATION clock (first commit ts) keys the memo too:
    // a drop-and-recreate at the same path within the TTL mints a new
    // clock, so a stale resolution can never bind the new table's
    // scan to the OLD table's version
    val born = commitTimestamps(dir).headOption.map(_._2).getOrElse(-1L)
    tsResolutions.getOrElseUpdate((dir.toString, tsMillis, born),
      (versionForTimestamp(dir, tsMillis), now))._1
  }

  /** A `timestampAsOf` option value: epoch millis when all digits;
    * otherwise zone-suffixed ISO-8601, a `yyyy-MM-dd[ HH:mm:ss[.SSS]]`
    * local timestamp (default zone — how Spark evaluates the SQL
    * `TIMESTAMP AS OF` expression too), or a bare date (midnight).
    * Unparseable values fail as IllegalArgumentException naming the
    * option, like every other bad ledger read option. */
  private[sources] def parseTsMillis(s: String): Long =
    if (s.nonEmpty && s.forall(_.isDigit)) s.toLong
    else {
      val t = s.trim.replace(' ', 'T')
      val zone = java.time.ZoneId.systemDefault()
      def attempt(f: => Long): Option[Long] =
        try Some(f)
        catch { case _: java.time.format.DateTimeParseException => None }
      attempt(java.time.OffsetDateTime.parse(t).toInstant.toEpochMilli)
        .orElse(attempt(java.time.LocalDateTime.parse(t)
          .atZone(zone).toInstant.toEpochMilli))
        .orElse(attempt(java.time.LocalDate.parse(t)
          .atStartOfDay(zone).toInstant.toEpochMilli))
        .getOrElse(throw new IllegalArgumentException(
          s"timestampAsOf: cannot parse '$s' as epoch millis, ISO-8601, " +
            "or 'yyyy-MM-dd[ HH:mm:ss[.SSS]]'"))
    }

  /** The next commit's timestamp: now, bumped past the current
    * version's recorded time so per-table commit times are strictly
    * increasing even within one millisecond. */
  private def nextCommitTs(dir: Path): Long = {
    val last = commitTs(dir, currentVersion(dir)).getOrElse(0L)
    Math.max(System.currentTimeMillis(), last + 1)
  }

  /** One commit's delta: the RESULTING headers (always — they are
    * line-sized), `#removes:` for vanished file names, and the
    * added/replaced entries. `#full:1` marks a whole-state delta (the
    * escape hatch for commits that reorder surviving entries, e.g.
    * RESTORE). */
  private def renderDelta(next: Manifest, v: Int, cur: Manifest,
      ts: Option[Long] = None): Seq[String] = {
    val curNames = cur.files.map(_.file)
    val nextNames = next.files.map(_.file).toSet
    val curByName = cur.files.map(e => e.file -> e).toMap
    val header = next.copy(files = Seq.empty).render ++
      (s"#version:$v" +: ts.map(t => s"#ts:$t").toSeq)
    val orderOk = next.files.map(_.file).filter(curByName.contains) ==
      curNames.filter(nextNames)
    if (!orderOk)
      header ++ Seq("#full:1") ++ next.files.map(_.render)
    else {
      val removes = curNames.filterNot(nextNames)
      val changedOrNew =
        next.files.filter(e => !curByName.get(e.file).contains(e))
      header ++
        (if (removes.nonEmpty) Seq("#removes:" + removes.mkString(","))
        else Nil) ++
        changedOrNew.map(_.render)
    }
  }

  /** Apply one delta on top of `cur`: replaced entries stay IN PLACE
    * (by file name), removed ones vanish, new ones append — exactly
    * how every commit kind builds its next manifest, so replay
    * reproduces the committed state byte-for-byte. */
  private def applyDelta(cur: Manifest, lines: Seq[String]): Manifest = {
    val m0 = Manifest.parse(lines.filterNot(l =>
      l.startsWith("#version:") || l.startsWith("#full:") ||
        l.startsWith("#removes:")))
    if (lines.exists(_.startsWith("#full:"))) m0
    else {
      val removes = lines.find(_.startsWith("#removes:"))
        .map(_.stripPrefix("#removes:").split(",", -1).toSet
          .filter(_.nonEmpty)).getOrElse(Set.empty[String])
      val replace = m0.files.map(e => e.file -> e).toMap
      val curNames = cur.files.map(_.file).toSet
      m0.copy(files =
        cur.files.filterNot(e => removes(e.file))
          .map(e => replace.getOrElse(e.file, e)) ++
          m0.files.filterNot(e => curNames(e.file)))
    }
  }

  /** Manifest: line 1 the schema DDL, optional `#` headers, then one
    * tab-separated [[FileEntry]] per line. Present-and-parseable ==
    * committed (every commit point is one atomic rename — of the log
    * delta in the log layout, of the manifest itself in the legacy
    * one). The LIVE state = the checkpoint plus its contiguous log
    * suffix. */
  private[sources] def readManifest(dir: Path): Option[Manifest] = {
    val mf = dir.resolve(ManifestName)
    if (!Files.exists(mf)) return None
    val lines = Files.readAllLines(mf, UTF_8).asScala.toSeq
    var m = Manifest.parse(lines)
    manifestVersion(dir) match {
      case None => Some(m) // legacy layout: the manifest IS the state
      case Some(c) =>
        var v = c + 1
        while (Files.exists(dir.resolve(logName(v)))) {
          m = applyDelta(m,
            Files.readAllLines(dir.resolve(logName(v)), UTF_8).asScala.toSeq)
          v += 1
        }
        Some(m)
    }
  }

  /** The live table's version: checkpoint version + contiguous log
    * suffix (log layout), or one past the newest full archive
    * (legacy). An empty directory reads as version 1 — the version the
    * FIRST commit will create. */
  private[graft] def currentVersion(dir: Path): Int =
    manifestVersion(dir) match {
      case Some(c) =>
        var v = c
        while (Files.exists(dir.resolve(logName(v + 1)))) v += 1
        v
      case None =>
        listVersions(dir, ArchiveRe).lastOption.getOrElse(0) + 1
    }

  /** Historical versions readable right now, ascending (exact
    * snapshots plus every version reachable by checkpoint-and-replay).
    * The name is historical — with the log layout nothing is "archived"
    * per commit; retention decides what stays reconstructable. */
  private[sources] def archivedVersions(dir: Path): Seq[Int] = {
    val cur = currentVersion(dir)
    val exact = exactVersions(dir).toSet
    val logSet = listVersions(dir, LogRe).toSet
    val bases = exact ++ manifestVersion(dir).toSet
    (1 until cur).filter(v => exact(v) ||
      bases.filter(_ <= v).maxOption.exists(b =>
        (b + 1 to v).forall(logSet))).toSeq
  }

  /** Manifest as of `version` — the live state when `version` is None
    * or current; otherwise an exact snapshot, or the nearest
    * checkpoint at-or-below replayed forward through the log. Every
    * reconstructed state is self-contained (its own schema, ids and
    * partition spec), so a version reads exactly the table definition
    * it committed under. */
  private[sources] def readManifestAt(dir: Path, version: Option[Int])
      : Option[Manifest] =
    version.filter(_ != currentVersion(dir)) match {
      case None => readManifest(dir)
      case Some(v) =>
        exactStateFile(dir, v) match {
          case Some(p) =>
            Some(Manifest.parse(Files.readAllLines(p, UTF_8).asScala.toSeq))
          case None =>
            val bases = exactVersions(dir).toSet ++ manifestVersion(dir).toSet
            val base = bases.filter(b => b <= v && b > 0).maxOption
              .filter(b => (b + 1 to v).forall(k =>
                Files.exists(dir.resolve(logName(k)))))
            base match {
              case Some(b) =>
                val start =
                  if (manifestVersion(dir).contains(b)) dir.resolve(ManifestName)
                  else exactStateFile(dir, b).get
                var m = Manifest.parse(
                  Files.readAllLines(start, UTF_8).asScala.toSeq)
                (b + 1 to v).foreach { k =>
                  m = applyDelta(m, Files.readAllLines(
                    dir.resolve(logName(k)), UTF_8).asScala.toSeq)
                }
                Some(m)
              case None => throw new IllegalArgumentException(
                s"ledger $dir has no version $v (versions: " +
                  s"${archivedVersions(dir).mkString(",")},${currentVersion(dir)})")
            }
        }
    }

  /** The append-only file DELTA between two versions — the CDC read
    * (`changesFromVersion`/`changesToVersion` options): the files
    * version `to` references that version `from` (0 = the empty
    * table) did not, under `to`'s schema. Honest boundary: a range
    * that REMOVED files (overwrite, row-level op, OPTIMIZE) is not
    * expressible as inserts-only and is refused rather than
    * misreported. */
  private[sources] def readChanges(dir: Path, from: Int, to: Int): Manifest = {
    if (from > to) throw new IllegalArgumentException(
      s"changesFromVersion=$from > changesToVersion=$to")
    val toM = readManifestAt(dir, Some(to)).getOrElse(
      throw new IllegalArgumentException(s"no committed ledger manifest under $dir"))
    // entry identity includes the deletion vector: a DV-only change to
    // a file is a logical row REMOVAL and must not pass as append-only
    val baseKeys: Set[(String, Option[String])] =
      if (from == 0) Set.empty
      else readManifestAt(dir, Some(from))
        .map(_.files.map(e => (e.file, e.dv)).toSet).getOrElse(Set.empty)
    val toKeys = toM.files.map(e => (e.file, e.dv)).toSet
    val removed = baseKeys -- toKeys
    if (removed.nonEmpty) throw new UnsupportedOperationException(
      s"CDC range v$from..v$to spans a non-append commit " +
        s"(${removed.size} file(s) were removed or rewritten); " +
        "use readChangeFeed=true for the row-level diff, or read the " +
        "versions on either side")
    // an equality-delete install is a logical row removal with NO file
    // change — silently serving the appended files as "the changes"
    // would miss it
    val baseEqd =
      if (from == 0) Seq.empty
      else readManifestAt(dir, Some(from)).map(_.eqDeletes).getOrElse(Seq.empty)
    if (toM.eqDeletes != baseEqd) throw new UnsupportedOperationException(
      s"CDC range v$from..v$to spans an equality-delete commit; " +
        "read the versions on either side")
    toM.copy(files = toM.files.filterNot(e => baseKeys((e.file, e.dv))))
  }

  // ---- write-audit-publish staged manifests ----

  /** A STAGED manifest (the Iceberg WAP idea): a full table state —
    * the base manifest plus the staged commit's files — written next
    * to the live manifest but never swapped in. Audit reads resolve it
    * via the `wapId` read option; [[LedgerRefs.publishWap]] folds its
    * new files into the live table under the commit protocol;
    * [[LedgerRefs.abortWap]] discards them. Two headers make the
    * staged manifest self-contained: `graft.wap.base` (the version the
    * stage was computed against, provenance only) and
    * `graft.wap.newfiles` (the staged file names — publish uses this
    * list, so expiring the base version never strands a staged
    * commit). */
  private[sources] def wapName(id: String): String = {
    require(id.nonEmpty && id.forall(c => c.isLetterOrDigit || c == '-' ||
      c == '_'), s"wapId must be [A-Za-z0-9_-]+, got '$id'")
    s"$ManifestName.wap.$id"
  }

  private[sources] val WapBaseProp = "graft.wap.base"
  private[sources] val WapNewFilesProp = "graft.wap.newfiles"

  private[sources] def readWapOpt(dir: Path, id: String): Option[Manifest] = {
    val p = dir.resolve(wapName(id))
    if (!Files.exists(p)) None
    else Some(Manifest.parse(Files.readAllLines(p, UTF_8).asScala.toSeq))
  }

  private[sources] def readWap(dir: Path, id: String): Manifest =
    readWapOpt(dir, id).getOrElse(throw new IllegalArgumentException(
      s"ledger $dir has no staged commit wapId=$id (staged: " +
        s"${listWaps(dir).mkString(",")})"))

  private[graft] def listWaps(dir: Path): Seq[String] = {
    val re = s"${java.util.regex.Pattern.quote(ManifestName)}\\.wap\\.(.+)".r
    if (!Files.isDirectory(dir)) Seq.empty
    else {
      val s = Files.list(dir)
      try s.iterator().asScala.flatMap(p => p.getFileName.toString match {
        case re(id) if !id.endsWith(".tmp") => Some(id)
        case _ => None
      }).toSeq.sorted
      finally s.close()
    }
  }

  /** The change-feed metadata columns (the Delta CDF surface). */
  private[sources] val cdfColumns: Array[StructField] = Array(
    StructField("_change_type", StringType, nullable = false),
    StructField("_commit_version", IntegerType, nullable = false))

  // ---- branches (the Iceberg refs model on the log layout) ----
  //
  // A branch forks main at version F and accumulates its OWN log
  // chain `_LOG.b.<name>.v<k>` for k > F on top of main's state at F
  // — multi-commit staging where WAP stages exactly one. Publishing is
  // FAST-FORWARD only: if main hasn't moved past F, the branch logs
  // RENAME into the main chain (they are deltas against exactly the
  // states main will now replay through); if main moved, the publish
  // refuses — a true merge would need conflict semantics per commit
  // kind, and refusing honestly is the Iceberg fast-forward contract.

  private[sources] def branchLogName(name: String, v: Int): String =
    s"_LOG.b.$name.v$v"

  private val AnyBranchLogRe = "_LOG\\.b\\..+\\.v(\\d+)".r

  private[sources] def branchLogVersions(dir: Path, name: String): Seq[Int] =
    listVersions(dir,
      ("_LOG\\.b\\." + java.util.regex.Pattern.quote(name) +
        "\\.v(\\d+)").r)

  /** The branch's head version: fork point + its contiguous log
    * suffix. */
  private[sources] def branchHead(dir: Path, name: String, fork: Int): Int = {
    var v = fork
    while (Files.exists(dir.resolve(branchLogName(name, v + 1)))) v += 1
    v
  }

  /** Branch state at `version` (default: the branch head): main's
    * state at the fork point replayed through the branch's own log.
    * Works as long as retention keeps the fork point reconstructable —
    * [[LedgerRefs.expireVersions]] protects live branches' forks. */
  private[sources] def readBranchState(dir: Path, name: String, fork: Int,
      version: Option[Int] = None): Manifest = {
    val v = version.getOrElse(branchHead(dir, name, fork))
    require(v >= fork && v <= branchHead(dir, name, fork),
      s"branch $name has no version $v (fork $fork, head " +
        s"${branchHead(dir, name, fork)})")
    var m = readManifestAt(dir, Some(fork)).getOrElse(
      throw new IllegalStateException(
        s"branch $name's fork point v$fork is gone from $dir"))
    (fork + 1 to v).foreach { k =>
      m = applyDelta(m, Files.readAllLines(
        dir.resolve(branchLogName(name, k)), UTF_8).asScala.toSeq)
    }
    m
  }

  /** One branch commit: the delta of `next` against the branch state
    * `cur`, as log `v` of the branch's chain. Same atomic-rename
    * commit point as main-chain commits. */
  private[sources] def writeBranchCommit(dir: Path, name: String, v: Int,
      next: Manifest, cur: Manifest): Unit = {
    // branch commits carry timestamps too: fast-forward renames these
    // logs into the main chain, so they must order after the fork —
    // floor at the previous branch commit's time (or main's current
    // version's, which is >= the fork's)
    val last = {
      val prev = dir.resolve(branchLogName(name, v - 1))
      (if (Files.exists(prev))
        tsOfLines(Files.readAllLines(prev, UTF_8).asScala.toSeq)
      else None).orElse(commitTs(dir, currentVersion(dir))).getOrElse(0L)
    }
    val ts = Math.max(System.currentTimeMillis(), last + 1)
    writeAtomic(dir, branchLogName(name, v),
      renderDelta(stampVersions(next, Some(cur), v), v, cur, Some(ts)))
  }

  /** Fast-forward needs the main chain to REPLAY logs, which the
    * legacy (pre-log) layout doesn't: stamp the live manifest with its
    * version in place — same state, no version bump, archives
    * untouched. Call under the commit lock. */
  private[sources] def ensureLogLayout(dir: Path): Unit =
    if (manifestVersion(dir).isEmpty)
      readManifest(dir).foreach(m =>
        writeAtomic(dir, ManifestName, renderState(m, currentVersion(dir))))

  /** Storage half of retention ([[LedgerRefs.expireVersions]] holds
    * the policy — what to protect — and the lock): materialize every
    * protected historical version as an exact snapshot, roll the live
    * checkpoint to the current version (its old base may be among the
    * expiring), then drop every other historical state source —
    * legacy archives, snapshots and the whole log (each surviving
    * state is now self-contained). History cost after retention is
    * O(protected versions), independent of how many commits ever
    * happened. Returns the expired versions, ascending. */
  private[sources] def dropHistory(dir: Path, protect: Set[Int]): Seq[Int] = {
    val cur = currentVersion(dir)
    val avail = archivedVersions(dir)
    val expired = avail.filterNot(protect)
    if (expired.isEmpty) return Seq.empty
    avail.filter(protect).foreach { v =>
      if (exactStateFile(dir, v).isEmpty)
        writeAtomic(dir, checkpointName(v),
          // materialize with the version's ORIGINAL commit time —
          // retention must not rewrite history's clock
          renderState(readManifestAt(dir, Some(v)).get, v, commitTs(dir, v)))
    }
    if (!manifestVersion(dir).contains(cur))
      readManifest(dir).foreach(m =>
        writeAtomic(dir, ManifestName,
          renderState(m, cur, commitTs(dir, cur))))
    expired.foreach { v =>
      Files.deleteIfExists(dir.resolve(archiveName(v))): Unit
      Files.deleteIfExists(dir.resolve(checkpointName(v))): Unit
    }
    listVersions(dir, LogRe).filter(_ <= cur).foreach(v =>
      Files.deleteIfExists(dir.resolve(logName(v))): Unit)
    expired
  }

  /** Every file referenced by ANY retained version — the set a vacuum
    * or a post-DELETE cleanup must not touch. O(metadata), not
    * O(versions × files): a file referenced by some reconstructable
    * version appears either in an exact snapshot, in the live
    * checkpoint, or as an add/replace entry in a surviving log — so
    * walking those sources once covers every replayable state. */
  private[sources] def referencedFiles(dir: Path): Set[String] = {
    def refs(m: Manifest): Seq[String] =
      m.files.flatMap(e => (e.file +: e.dv.toSeq) ++ e.bloom.toSeq) ++
        m.eqDeletes.map(_.file)
    def refsOf(p: Path): Seq[String] =
      refs(Manifest.parse(Files.readAllLines(p, UTF_8).asScala.toSeq
        .filterNot(l => l.startsWith("#version:") || l.startsWith("#full:") ||
          l.startsWith("#removes:"))))
    val exact = exactVersions(dir)
      .flatMap(v => exactStateFile(dir, v)).flatMap(refsOf)
    // log deltas: their entry lines are exactly the adds/replacements
    // (a full delta's lines are the whole state — same handling).
    // Branch logs count too — their staged files have no other
    // reference until fast-forward.
    val logged = (listVersions(dir, LogRe).map(logName) ++ {
      if (!Files.isDirectory(dir)) Seq.empty
      else {
        val s = Files.list(dir)
        try s.iterator().asScala.map(_.getFileName.toString)
          .filter(n => AnyBranchLogRe.pattern.matcher(n).matches()).toSeq
        finally s.close()
      }
    }).flatMap(n => refsOf(dir.resolve(n)))
    // the live CHECKPOINT itself (not just the replayed head): a file
    // removed by a later log is still referenced by the checkpoint's
    // version until retention drops it
    val ckpt = {
      val mf = dir.resolve(ManifestName)
      if (Files.exists(mf)) refsOf(mf) else Seq.empty
    }
    // staged (write-audit-publish) manifests hold files no version
    // references yet — a vacuum between stage and publish must keep
    // them
    val staged = listWaps(dir).flatMap(id => refs(readWap(dir, id)))
    (exact ++ logged ++ ckpt ++ staged ++
      readManifest(dir).map(refs).getOrElse(Seq.empty)).toSet
  }

  /** Age horizon below which [[vacuum]] never reclaims an unreferenced
    * staged file (Iceberg `remove_orphan_files`' `older_than` default,
    * scaled to this connector's commit cadence): a batch append / COW /
    * MoR / streaming epoch stages its files BEFORE taking the commit
    * lock, so between task-write and commit an in-flight writer's files
    * are referenced by NO manifest — indistinguishable, by reference
    * counting alone, from a crashed writer's garbage. Age is the only
    * signal that separates them: at 100 TB a write job stages for
    * minutes-to-hours, so a routine maintenance vacuum racing it must
    * skip anything young enough to still be in flight. */
  val DefaultVacuumHorizonMillis: Long = 24L * 60 * 60 * 1000

  /** Delete staged files no retained version references (the Delta
    * VACUUM analogue with retention = every version; expire versions
    * first — delete their archive files — to reclaim their data).
    *
    * `olderThanMillis` is the in-flight-writer guard: an unreferenced
    * staged file is reclaimed only when its mtime is older than that
    * horizon (see [[DefaultVacuumHorizonMillis]]). Pass 0 to reclaim
    * regardless of age — correct only when the caller KNOWS no write
    * is in flight (single-writer maintenance windows, tests). */
  def vacuum(dir: Path,
      olderThanMillis: Long = DefaultVacuumHorizonMillis): Seq[String] = {
    val live = referencedFiles(dir)
    val staging = dir.resolve("_staging")
    if (!Files.isDirectory(staging)) return Seq.empty
    val cutoff = System.currentTimeMillis() - olderThanMillis
    def agedOut(p: Path): Boolean = olderThanMillis <= 0 ||
      (try Files.getLastModifiedTime(p).toMillis < cutoff
       catch { case _: java.io.IOException => false }) // vanished → skip
    val s = Files.list(staging)
    val orphans = try {
      // liveness BEFORE the age stat: committed data files live under
      // _staging permanently, and stat'ing each would cost one
      // metadata call per data file on every routine vacuum — the age
      // guard only needs to inspect the (few) unreferenced candidates
      s.iterator().asScala
        .filter(p => !live(s"_staging/${p.getFileName}"))
        .filter(agedOut)
        .map(p => s"_staging/${p.getFileName}").toSeq
    } finally s.close()
    orphans.foreach(f => Files.deleteIfExists(dir.resolve(f)): Unit)
    orphans.sorted
  }

  /** Deletion-vector sidecar codec: one deleted row ORDINAL per line,
    * sorted ascending (the writer sorts; the reader treats it as a
    * set). */
  private[sources] def readDvOrdinals(path: Path): java.util.BitSet = {
    val bs = new java.util.BitSet()
    Files.readAllLines(path, UTF_8).asScala
      .foreach(l => if (l.nonEmpty) bs.set(l.trim.toInt))
    bs
  }

  /** The scan's METADATA COLUMNS (the Iceberg `_file`/`_pos` idea):
    * `_file` is the table-relative data file holding the row, `_pos`
    * its physical line ordinal. Together they are a stable row
    * identity — physical ordinals survive deletion-vector changes
    * (only a file REWRITE invalidates them, and rewrites always mint
    * new file names) — which is exactly what the delta row-level
    * write path uses as its rowId. Bound via sentinel positions so
    * the shared line decoder stays metadata-blind. */
  private[sources] val MetaFileCol = "_file"
  private[sources] val MetaPosCol = "_pos"
  private[sources] val MetaFilePos = -2
  private[sources] val MetaPosPos = -3

  /** The one file binder every ledger reader uses (batch scan, change
    * feed, both streams): output column i reads the file field holding
    * its id `idOf(name)` (absent → -1: the column reads null, or its
    * initial default); legacy (id-less) files bind by position under
    * `m`'s own schema, their columns being a positional prefix of it.
    * `_file`/`_pos` that name no data column bind to sentinel
    * positions the reader fills — they exist in no data file. The file
    * reads through `m`'s merge-on-read state: its DV and the equality
    * deletes `m` applies to it. */
  private[sources] def bindFile(dir: Path, m: Manifest, e: FileEntry,
      out: StructType, idOf: Map[String, Int]): LedgerFilePartition = {
    def metaPos(name: String): Int = name match {
      case MetaFileCol => MetaFilePos
      case MetaPosCol => MetaPosPos
      case _ => -1
    }
    val colIds = out.fieldNames.map(idOf.getOrElse(_, -1))
    val (positions, width) = e.ids match {
      case Some(fids) =>
        (out.fieldNames.zip(colIds).map { case (n, id) =>
          if (id >= 0) fids.indexOf(id) else metaPos(n) }, fids.length)
      case None =>
        val names = m.schema.fieldNames
        (out.fieldNames.map(n =>
          if (names.contains(n)) names.indexOf(n) else metaPos(n)),
          names.length)
    }
    LedgerFilePartition(dir.resolve(e.file).toString, positions, width,
      e.dv.map(d => dir.resolve(d).toString), rel = e.file,
      eqd = eqdBindings(dir, m, e),
      defaults = defaultsArray(m, positions, colIds))
  }

  /** The equality deletes applicable to `e`, each bound to the file's
    * line layout (ordinals of the delete's key fields) — every reader
    * binds through [[bindFile]], so all agree on which rows are dead. */
  private[sources] def eqdBindings(dir: Path, m: Manifest,
      e: FileEntry): Array[EqdFileBinding] =
    m.eqDeletesFor(e).map { d =>
      val ords = d.fieldIds.map { id =>
        val o = e.ids match {
          case Some(fids) => fids.indexOf(id)
          case None => m.ids.indexOf(id)
        }
        require(o >= 0, s"equality delete keys on field id $id, which is " +
          s"absent from data file ${e.file}'s layout")
        o
      }
      EqdFileBinding(dir.resolve(d.file).toString, ords.toArray)
    }.toArray

  /** The shared row-kill predicate over RAW lines for one file's
    * bindings (null when none apply): a row is dead when any delete
    * set contains its encoded key tuple; fields a short (pre-ADD
    * COLUMN) line lacks read as null. */
  private[sources] def eqdKillPredicate(
      eqd: Array[EqdFileBinding]): String => Boolean =
    if (eqd.isEmpty) null
    else {
      val sets = eqd.map(b => (b.ordinals, readEqdTuples(Paths.get(b.path))))
      line => {
        val parts = line.split(",", -1)
        sets.exists { case (ord, set) =>
          set.contains(ord.map(o =>
            if (o < parts.length) parts(o) else NullMark).mkString(","))
        }
      }
    }

  /** An equality-delete sidecar's key tuples, as the raw encoded
    * lines (comparison happens in ENCODED space — the row codec is
    * canonical per value, so equal values encode identically). */
  private[sources] def readEqdTuples(path: Path): java.util.HashSet[String] = {
    val s = new java.util.HashSet[String]()
    Files.readAllLines(path, UTF_8).forEach(l =>
      if (l.nonEmpty) { s.add(l): Unit })
    s
  }

  /** One bound file's live rows: decode every line EXCEPT the ordinals
    * the file's deletion vector (if any) marks deleted — the
    * merge-on-read scan path. Sentinel positions fill the metadata
    * columns from the partition binding (file name) and the loop
    * ordinal. */
  private[sources] def fileRows(p: LedgerFilePartition,
      types: Array[DataType]): Iterator[InternalRow] = {
    val lines = Files.readAllLines(Paths.get(p.file), UTF_8)
    val dv = p.dvFile.map(d => readDvOrdinals(Paths.get(d)))
    // merge-on-read equality deletes: a row is dead when any
    // applicable delete set contains its encoded key tuple
    val eqKilled: String => Boolean = eqdKillPredicate(p.eqd)
    val metaIdx = p.positions.indices.filter(j => p.positions(j) < -1)
    val relName = UTF8String.fromString(p.rel)
    // initial defaults, parsed ONCE per file: cells whose column the
    // file predates (position -1) read the registered default instead
    // of NULL — explicit NullMark bytes in files that HAVE the column
    // are untouched
    val defVals: Array[Any] =
      if (p.defaults.isEmpty) null
      else p.defaults.indices.map(j =>
        if (p.defaults(j) == null) null
        else parseValue(types(j), p.defaults(j)): Any).toArray
    (0 until lines.size).iterator
      .filter(i => dv.forall(!_.get(i)) &&
        (eqKilled == null || !eqKilled(lines.get(i))))
      .map { i =>
        val r = decodeProjected(lines.get(i), p.positions, types, p.width)
        if (metaIdx.nonEmpty || defVals != null) {
          val g = r.asInstanceOf[GenericInternalRow]
          metaIdx.foreach(j => g.update(j,
            if (p.positions(j) == MetaFilePos) relName else i.toLong))
          if (defVals != null) {
            var j = 0
            while (j < defVals.length) {
              if (defVals(j) != null && p.positions(j) == -1)
                g.update(j, defVals(j))
              j += 1
            }
          }
        }
        r
      }
  }

  /** The one row-decoding reader both the batch scan and the
    * micro-batch stream use: each [[LedgerFilePartition]] carries its
    * own column-position binding (and optional deletion vector), so
    * the factory itself only needs the OUTPUT schema (serialized as
    * DDL — the factory ships to executors). */
  /** DDL for shipping a schema to executors: metadata stripped.
    * Column-default metadata ([[GraftCatalog]] attaches CURRENT/
    * EXISTS_DEFAULT for Spark's INSERT fill) renders as a `DEFAULT`
    * clause in toDDL, which `StructType.fromDDL` cannot re-parse —
    * and the reader/writer only ever need names and types. */
  private[sources] def cleanDdl(schema: StructType): String =
    StructType(schema.fields.map(_.copy(
      metadata = org.apache.spark.sql.types.Metadata.empty))).toDDL

  private[sources] def lineReaderFactory(
      requiredDdl: String): PartitionReaderFactory =
    partition => {
      val types: Array[DataType] =
        if (requiredDdl.isEmpty) Array.empty
        else StructType.fromDDL(requiredDdl).fields.map(_.dataType)
      val parts: Array[LedgerFilePartition] = partition match {
        case g: LedgerFileGroupPartition => g.files
        case p: LedgerFilePartition => Array(p)
      }
      val rows = parts.iterator.flatMap(fileRows(_, types))
      new org.apache.spark.sql.connector.read.PartitionReader[InternalRow] {
        private var cur: InternalRow = _
        override def next(): Boolean =
          rows.hasNext && { cur = rows.next(); true }
        override def get(): InternalRow = cur
        override def close(): Unit = ()
      }
    }

  private def writeAtomic(dir: Path, name: String, lines: Seq[String]): Unit = {
    val tmp = dir.resolve(s"$name.tmp")
    Files.write(tmp, lines.mkString("\n").getBytes(UTF_8))
    Files.move(tmp, dir.resolve(name),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING): Unit
  }

  /** COMMIT the next table state. In the log layout this writes one
    * O(delta) log file — the atomic rename IS the commit point — and
    * every [[CheckpointEvery]] commits rolls the checkpoint forward
    * (preserving the outgoing one as an exact snapshot for time
    * travel; a crash between the two steps leaves the old checkpoint
    * live with its logs intact, and the duplicate snapshot is
    * harmless). A LEGACY table (full-archive layout) migrates here on
    * its next commit: its manifest is archived whole one last time and
    * the new state becomes the first versioned checkpoint. Previous
    * versions stay readable via `versionAsOf` either way; data files
    * are never deleted by commits (overwrite orphans them; [[vacuum]]
    * reclaims what no retained version references). */
  /** Stamp commit-version metadata into the state about to commit as
    * version `v`: NEW data files (absent from `cur` by name) get their
    * data sequence, and placeholder (version-0) equality deletes get
    * their install version. Rewritten/replaced entries arrive with a
    * caller-chosen seq (rewrites stamp None → new sequence, which is
    * correct exactly because every rewrite path MATERIALIZES the
    * outstanding equality deletes it is replacing). */
  private def stampVersions(next: Manifest, cur: Option[Manifest],
      v: Int): Manifest = {
    val curNames = cur.map(_.files.map(_.file).toSet).getOrElse(Set.empty)
    val needsSeq = next.files.exists(e => e.seq.isEmpty && !curNames(e.file))
    val needsEqd = next.eqDeletes.exists(_.version == 0)
    // only tables that USE sequence metadata pay for it: a table with
    // no equality deletes (and none pending) keeps seq-free entries,
    // so every pre-existing manifest stays byte-identical
    val trackSeq = next.eqDeletes.nonEmpty ||
      cur.exists(_.eqDeletes.nonEmpty) ||
      next.files.exists(_.seq.nonEmpty)
    if (!(needsEqd || (needsSeq && trackSeq))) next
    else next.copy(
      files =
        if (trackSeq) next.files.map(e =>
          if (e.seq.isEmpty && !curNames(e.file)) e.copy(seq = Some(v)) else e)
        else next.files,
      eqDeletes = next.eqDeletes.map(d =>
        if (d.version == 0) d.copy(version = v) else d))
  }

  private[sources] def writeManifestAtomic(dir: Path, m0: Manifest): Unit = {
    Files.createDirectories(dir)
    val cur = dir.resolve(ManifestName)
    if (!Files.exists(cur)) { // first commit: version-1 checkpoint
      writeAtomic(dir, ManifestName,
        renderState(stampVersions(m0, None, 1), 1, Some(nextCommitTs(dir))))
      return
    }
    manifestVersion(dir) match {
      case None => // legacy layout: archive the old full state once,
        // then the new state becomes the first checkpoint — migration
        // in place, every old archive still readable
        val curBytes = Files.readAllBytes(cur)
        val vs = listVersions(dir, ArchiveRe)
        val v = vs.lastOption.getOrElse(0) + 1
        val isDup = vs.lastOption.exists(pv => java.util.Arrays.equals(
          Files.readAllBytes(dir.resolve(archiveName(pv))), curBytes))
        if (!isDup) {
          val tmpA = dir.resolve(s"$ManifestName.varc.tmp")
          Files.write(tmpA, curBytes)
          Files.move(tmpA, dir.resolve(archiveName(v)),
            StandardCopyOption.ATOMIC_MOVE,
            StandardCopyOption.REPLACE_EXISTING): Unit
        }
        writeAtomic(dir, ManifestName,
          renderState(stampVersions(m0, readManifest(dir), v + 1), v + 1,
            Some(nextCommitTs(dir))))
      case Some(ckptV) =>
        val curM = readManifest(dir).get
        val newV = currentVersion(dir) + 1
        val m = stampVersions(m0, Some(curM), newV)
        val ts = nextCommitTs(dir)
        writeAtomic(dir, logName(newV), renderDelta(m, newV, curM, Some(ts)))
        if (newV - ckptV >= CheckpointEvery) {
          // roll: preserve the outgoing checkpoint as an exact
          // snapshot (atomically — a torn snapshot would parse as a
          // corrupt state), then write the full state at newV (same
          // commit, same timestamp as its log). Logs stay —
          // retention decides when history is dropped.
          writeAtomic(dir, checkpointName(ckptV),
            Files.readAllLines(cur, UTF_8).asScala.toSeq)
          writeAtomic(dir, ManifestName, renderState(m, newV, Some(ts)))
        }
    }
  }

  // ---- optimistic-concurrency commits ----

  private val commitLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** The table's commit mutex: a JVM monitor (threads of one driver —
    * the common concurrent-writers case in local/same-session use)
    * wrapped around an OS file lock on `_commit.lock` (cooperating
    * drivers on the same filesystem — the single-filesystem assumption
    * every path in this format makes; an object store would need a
    * lock service here, which is exactly why Delta-on-S3 ships one).
    * The monitor must come FIRST: two threads of one JVM racing the
    * file lock would throw OverlappingFileLockException instead of
    * queueing. */
  private[sources] def withCommitLock[A](dir: Path)(f: => A): A = {
    Files.createDirectories(dir)
    val mon = commitLocks.computeIfAbsent(
      dir.toAbsolutePath.normalize.toString, _ => new Object)
    mon.synchronized {
      val ch = java.nio.channels.FileChannel.open(dir.resolve("_commit.lock"),
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.WRITE)
      try { val l = ch.lock(); try f finally l.release() } finally ch.close()
    }
  }

  /** OPTIMISTIC-CONCURRENCY commit (the Iceberg/Delta commit protocol
    * at this format's scale): under the table's commit lock, re-read
    * the manifest that is CURRENT at commit time — not the one the
    * operation planned against — and ask `rebase` to reconcile the
    * writer's intent with it:
    *
    *   - an APPEND's rebase unions its new files into whatever is
    *     current (disjoint file sets commute, so append-append,
    *     append-OPTIMIZE and append-DELETE all serialize with both
    *     commits landing);
    *   - a REWRITE's rebase (OPTIMIZE, copy-on-write row-level op)
    *     first checks every file it is replacing still exists in the
    *     current manifest and returns None when one vanished — a
    *     concurrent commit rewrote its inputs, so installing the swap
    *     would resurrect deleted rows or drop surviving ones;
    *   - a rebase that returns the current manifest UNCHANGED commits
    *     nothing (no spurious version bump — the streaming sink's
    *     replayed-epoch branch relies on this).
    *
    * None aborts with ConcurrentModificationException carrying
    * `conflict` — the caller cleans up its staged files and surfaces
    * the error; a retry is a fresh operation against the new state.
    * Without this, two concurrent appends both read v and both write
    * v+1, silently orphaning one commit's files (last-writer-wins). */
  private[sources] def commitRebase(dir: Path,
      rebase: Option[Manifest] => Option[Manifest],
      conflict: => String): Manifest =
    withCommitLock(dir) {
      val cur = readManifest(dir)
      rebase(cur) match {
        case Some(next) =>
          if (!cur.contains(next)) writeManifestAtomic(dir, next)
          next
        case None =>
          throw new java.util.ConcurrentModificationException(conflict)
      }
    }
}
