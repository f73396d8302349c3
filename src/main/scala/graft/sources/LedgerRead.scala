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
private[sources] class LedgerTable(dir: Path, schema0: StructType,
    version: Option[Int] = None,
    changes: Option[(Int, Int)] = None,
    requestedPartitioning: Seq[LedgerSink.NamedPartField] = Seq.empty,
    rowLevelChanges: Boolean = false,
    wap: Option[String] = None,
    branch: Option[String] = None)
    extends Table with SupportsRead with SupportsWrite
    with SupportsDelete with SupportsRowLevelOperations
    with SupportsMetadataColumns {
  LedgerSink.checkSchema(schema0)

  /** The scan's hidden row-identity columns (the Iceberg `_file`/
    * `_pos` surface): selectable by name on any batch read, and the
    * rowId the DELTA row-level path keys deletion vectors on. The
    * change-feed table does not serve them — its scan reconstructs
    * rows by DIFFING files, so a single output row has no unique
    * (file, pos) identity. */
  override def metadataColumns(): Array[MetadataColumn] =
    if (rowLevelChanges) Array.empty
    else Array(
      new MetadataColumn {
        override def name(): String = LedgerSink.MetaFileCol
        override def dataType(): DataType = StringType
        override def isNullable: Boolean = false
        override def comment(): String =
          "table-relative data file holding the row"
      },
      new MetadataColumn {
        override def name(): String = LedgerSink.MetaPosCol
        override def dataType(): DataType = LongType
        override def isNullable: Boolean = false
        override def comment(): String =
          "physical line ordinal of the row within _file"
      })

  /** A versionAsOf or CDC table is a SNAPSHOT: reads resolve archived
    * manifests; writes and deletes are refused (they would have to
    * rewrite history). */
  private def requireCurrent(op: String): Unit = {
    version.foreach(v => throw new UnsupportedOperationException(
      s"$op on a versionAsOf=$v snapshot; writes go to the current table"))
    changes.foreach { case (f, t) => throw new UnsupportedOperationException(
      s"$op on a changes v$f..v$t read; writes go to the current table") }
    if (rowLevelChanges) throw new UnsupportedOperationException(
      s"$op on a readChangeFeed handle; writes go to the current table")
  }

  /** Branch handles support reads and APPEND writes only — row-level
    * ops, metadata deletes and streaming on a branch would need the
    * whole rewrite machinery re-targeted at the branch chain, and
    * refusing honestly beats silently operating on main. */
  private def requireNotBranch(op: String): Unit =
    branch.foreach(b => throw new UnsupportedOperationException(
      s"$op on branch '$b': branches support reads and append writes " +
        "only; fast-forward first"))

  override def name(): String =
    s"ledger(${dir.toString}${version.map(v => s"@v$v").getOrElse("")}" +
      s"${changes.map { case (f, t) => s"@changes v$f..v$t" }.getOrElse("")})"
  override def schema(): StructType = schema0

  /** Table properties from the manifest the table READS (snapshot
    * tables report the properties the requested version committed
    * under) — what `SHOW TBLPROPERTIES` surfaces. */
  override def properties(): java.util.Map[String, String] = {
    val snapVersion = changes.map { case (_, t) => t }.orElse(version)
    val p = try LedgerSink.readManifestAt(dir, snapVersion)
      .map(_.props).getOrElse(Map.empty)
    catch { case _: IllegalArgumentException => Map.empty[String, String] }
    val m = new java.util.HashMap[String, String]()
    p.foreach { case (k, v) => m.put(k, v) }
    m
  }

  /** The table's partition spec, from the manifest the table
    * actually READS (the requested transforms only matter before the
    * first commit): a versionAsOf snapshot reports the spec the
    * requested version committed under, and a changes read reports the
    * `to` version's — specs can differ after an overwrite redefined
    * the table, and reporting the LIVE spec for a snapshot would let
    * the planner assume a layout the scanned files don't have. */
  override def partitioning(): Array[Transform] = {
    val snapVersion = changes.map { case (_, t) => t }.orElse(version)
    val spec = LedgerSink.readManifestAt(dir, snapVersion)
      .map(_.namedPartitionSpec).getOrElse(requestedPartitioning)
    spec.map(LedgerSink.toTransform).toArray
  }

  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.TRUNCATE,
      TableCapability.STREAMING_WRITE, TableCapability.MICRO_BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    if (rowLevelChanges) changes match {
      // bounded range → batch change feed; no range → the STREAMING
      // change feed (versions as offsets, each batch = its steps'
      // row-level diffs — Delta's CDF-streaming contract)
      case Some((f, t)) => () => new LedgerChangeFeedScan(dir, f, t)
      case None =>
        () => new LedgerChangeFeedStreamScan(dir, schema0, options)
    } else new LedgerScanBuilder(dir, schema0, version, changes,
      streamOpts = options,
      // pass the wapId through unverified: a typo'd id must fail loud
      // in readWap (listing the staged ids), never silently audit the
      // LIVE table as if it were the staged state
      wap = wap, branch = branch)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    requireCurrent("write")
    // a `wapId` WRITE is the stage half of write-audit-publish: the
    // commit lands in a staged manifest, never the live one (see
    // [[LedgerBatchWrite.commit]]); a `wapId` READ of an existing
    // staged manifest is a snapshot — its write would re-stage the
    // same id, which the duplicate check refuses at commit. A `branch`
    // write appends one commit to the branch's own log chain.
    new LedgerWriteBuilder(dir, info.schema(), requestedPartitioning,
      wapId = wap, branch = branch)
  }

  /** Row-level DELETE/UPDATE/MERGE as GROUP-BASED copy-on-write — the
    * path SQL takes when a predicate does NOT align with file
    * boundaries (the metadata delete above still wins when it does;
    * Spark's OptimizeMetadataOnlyDeleteFromTable arbitrates). Spark
    * rewrites the command into ReplaceData: the operation's SCAN
    * plans the candidate files (stats AND partition pruning apply —
    * files that provably hold no matching rows are neither read nor
    * rewritten), Spark recomputes those files' SURVIVING rows, and
    * the write's commit swaps exactly the scanned files for the
    * replacement files in one manifest rename. The scanned-file set
    * travels from the scan to the commit through the operation
    * instance — both run on the driver. */
  override def newRowLevelOperationBuilder(
      info: RowLevelOperationInfo): RowLevelOperationBuilder = {
    requireCurrent(info.command.toString)
    requireNotBranch(info.command.toString)
    // row-level mode resolution: the TABLE PROPERTY
    // `graft.ledger.rowLevelMode` (declared at CREATE TABLE or via
    // ALTER TABLE SET TBLPROPERTIES — the Delta enableDeletionVectors
    // shape) wins; the session conf of the same name applies only to
    // tables that declare none; default "cow". A table's declared mode
    // is part of its definition, so no session setting re-routes it.
    // "mor" plans the DELTA path — Spark rewrites the command into
    // WriteDelta keyed on the (_file, _pos) rowId, and the commit
    // installs deletion vectors plus appended files instead of
    // rewriting any touched file.
    val mode = LedgerSink.readManifest(dir)
      .flatMap(_.props.get("graft.ledger.rowLevelMode"))
      .getOrElse(org.apache.spark.sql.internal.SQLConf.get
        .getConfString("graft.ledger.rowLevelMode", "cow"))
    if (mode == "mor")
      () => new LedgerDeltaOperation(dir, schema0, info.command)
    else () => new LedgerRowLevelOperation(dir, schema0, info.command)
  }

  // ---- metadata-only DELETE (the Iceberg "metadata delete") ----

  /** Resolve the delete predicates into whole-file-provable pieces:
    * a [lo, hi] range on the stats column and/or equality constraints
    * on partition columns. None when any predicate falls outside the
    * provable shapes. */
  private def deleteShape(filters: Array[Filter])
      : Option[((Long, Long), Map[String, String])] = {
    val mOpt = LedgerSink.readManifest(dir)
    if (mOpt.isEmpty) return None
    val m = mOpt.get
    val statName = LedgerSink.statColIndex(m.schema).map(m.schema.fields(_).name)
    // IDENTITY fields only: a matching identity tuple proves every row
    // in the file matches the equality, so the file may be DROPPED; a
    // matching bucket/day tuple only proves rows MIGHT match — such
    // predicates are refused here and take the row-level COW path
    val partTypes: Map[String, DataType] = m.namedPartitionSpec
      .filter(_.kind == "identity")
      .map(p => p.name ->
        m.schema.fields(m.schema.fieldIndex(p.name)).dataType).toMap
    var lo = Long.MinValue
    var hi = Long.MaxValue
    var partEq = Map.empty[String, String]
    val ok = filters.forall {
      case GreaterThan(c, v: Long) if statName.contains(c) =>
        lo = math.max(lo, v + 1); true
      case GreaterThanOrEqual(c, v: Long) if statName.contains(c) =>
        lo = math.max(lo, v); true
      case LessThan(c, v: Long) if statName.contains(c) =>
        hi = math.min(hi, v - 1); true
      case LessThanOrEqual(c, v: Long) if statName.contains(c) =>
        hi = math.min(hi, v); true
      case EqualTo(c, v: Long) if statName.contains(c) =>
        lo = math.max(lo, v); hi = math.min(hi, v); true
      case EqualTo(c, v) if partTypes.contains(c) =>
        LedgerSink.encodeLiteral(partTypes(c), v) match {
          case Some(enc) if !partEq.contains(c) || partEq(c) == enc =>
            partEq += (c -> enc); true
          case _ => false
        }
      case _ => false
    }
    if (ok) Some(((lo, hi), partEq)) else None
  }

  /** A file is decidable when partition equality proves it fully
    * outside (a non-matching partition tuple), or its stats prove it
    * fully inside the delete range (every row's stat value lies in
    * [min,max] ⊆ range) or fully outside (ranges disjoint — including
    * the all-null file, which a null-excluding range predicate can
    * never match). A partition-only delete drops exactly the matching
    * partitions' files — the reference's partitioned-prefix overwrite
    * story as a metadata operation. */
  private def classify(m: LedgerSink.Manifest,
      shape: ((Long, Long), Map[String, String]))
      : Option[(Seq[LedgerSink.FileEntry], Seq[LedgerSink.FileEntry])] = {
    val ((lo, hi), partEq) = shape
    val hasRange = lo != Long.MinValue || hi != Long.MaxValue
    val partNames = m.partitionNames
    val curStatId = m.statId
    val (drop, keep) = (Seq.newBuilder[LedgerSink.FileEntry],
      Seq.newBuilder[LedgerSink.FileEntry])
    m.files.foreach { e =>
      // partition verdict: Some(true)=file's tuple matches all
      // equalities, Some(false)=provably not, None=unknowable. Under
      // SPEC EVOLUTION the proof runs against the spec THE FILE was
      // written under: every constrained column must be an IDENTITY
      // field of that spec (a bucket/day tuple only proves rows MIGHT
      // match; a missing column proves nothing) — otherwise the whole
      // delete falls back to the row-level path
      val partVerdict: Option[Boolean] =
        if (partEq.isEmpty) Some(true)
        else {
          val fields = m.namedSpecOf(e)
          e.partVals match {
            case Some(vals) if vals.length == fields.length =>
              val byName: Map[String, (String, String)] =
                fields.zip(vals).map { case (p, v) =>
                  p.name -> ((p.kind, v))
                }.toMap
              if (partEq.keys.exists(c =>
                !byName.get(c).exists(_._1 == "identity"))) None
              else Some(partEq.forall { case (c, want) =>
                val v = byName(c)._2
                v != LedgerSink.NullMark && v == want
              })
            case _ => None
          }
        }
      val statsApply = e.statId.orElse(
        if (e.ids.isEmpty) curStatId else None) == curStatId && curStatId.isDefined
      partVerdict match {
        case Some(false) => keep += e
        case Some(true) if !hasRange => drop += e
        case Some(true) if statsApply =>
          (e.min, e.max) match {
            case (Some(mn), Some(mx)) if mn >= lo && mx <= hi => drop += e
            case (Some(mn), Some(mx)) if mx < lo || mn > hi => keep += e
            case (None, None) => keep += e // all-null: no row can match
            case _ => return None // straddling file: not a metadata delete
          }
        case Some(true)
          if hasRange && e.ids.exists(f => !curStatId.exists(f.contains)) =>
          // the file predates the stat column entirely: it reads
          // all-NULL there, so a null-excluding range never matches
          keep += e
        case _ => return None
      }
    }
    Some((drop.result(), keep.result()))
  }

  /** Accept exactly the deletes the manifest can prove whole-file:
    * Spark surfaces a refusal as an analysis error telling the user
    * this table needs a rewrite for that predicate — the honest
    * boundary between a metadata delete and row-level ops. */
  override def canDeleteWhere(filters: Array[Filter]): Boolean = {
    requireCurrent("DELETE")
    requireNotBranch("DELETE")
    // deleteShape already requires a manifest, so the None arm is a
    // race (concurrent DROP) — decline the metadata path there rather
    // than promise a delete the commit would then refuse
    deleteShape(filters).exists(s =>
      LedgerSink.readManifest(dir).exists(m => classify(m, s).isDefined))
  }

  /** CONCURRENCY: classification re-runs against the manifest current
    * at commit time under the table lock — a file APPENDED between
    * canDeleteWhere and the commit is classified like any other (kept
    * or dropped by the same whole-file proof), never silently dropped
    * by a stale keep-list; a racing rewrite that makes the predicate
    * straddle a file aborts instead of guessing. */
  override def deleteWhere(filters: Array[Filter]): Unit = {
    requireCurrent("DELETE")
    requireNotBranch("DELETE")
    val shape = deleteShape(filters).getOrElse(
      throw new UnsupportedOperationException(
        "delete predicate does not align with file boundaries"))
    var dropped: Seq[LedgerSink.FileEntry] = Seq.empty
    LedgerSink.commitRebase(dir, {
      case None => throw new IllegalStateException(
        s"ledger table $dir was dropped while the DELETE was running")
      case Some(m) => classify(m, shape) match {
        case Some((drop, keep)) =>
          dropped = drop
          Some(m.copy(files = keep))
        case None => None
      }
    }, "metadata DELETE raced a commit after which its predicate no " +
      "longer aligns with file boundaries; re-run the DELETE")
    // physical cleanup AFTER the commit point — a crash between the
    // two leaves unreferenced files, never a manifest naming ghosts —
    // and only for files NO archived version still references (the
    // commit above archived the pre-delete manifest, so in practice
    // dropped files survive for time travel until vacuum)
    val live = LedgerSink.referencedFiles(dir)
    dropped.filterNot(e => live(e.file)).foreach { e =>
      Files.deleteIfExists(dir.resolve(e.file)): Unit
      e.bloom.filterNot(live).foreach(b =>
        Files.deleteIfExists(dir.resolve(b)): Unit)
    }
  }
}

/** Read planning with THREE pruning disciplines, all manifest-only
  * (no data file is opened to plan):
  *   - stats-based file skipping: range predicates on the stats
  *     column shrink [flo, fhi]; a file survives iff its [min, max]
  *     intersects it. Stats only BOUND each file, so pruning may keep
  *     a file with no matching rows but can never drop a matching
  *     one, and every filter is returned as a residual for Spark to
  *     evaluate row-wise — the parquet row-group contract at file
  *     grain. A file whose stats were taken on a different column
  *     (pre-evolution) conservatively survives; a file that predates
  *     the stat column entirely reads all-NULL there and is exactly
  *     prunable under null-excluding range predicates.
  *   - partition pruning: equality/IN/null predicates on identity
  *     partition columns drop whole files by their manifest partition
  *     tuple — exact, not conservative, because identity partitioning
  *     makes the tuple a fact about every row in the file.
  *   - column pruning (SupportsPushDownRequiredColumns): the reader
  *     binds only the requested columns BY FIELD ID and never parses
  *     the rest — a wide-table narrow projection pays line-splitting,
  *     not full-row decoding. */
private[sources] class LedgerScanBuilder(dir: Path, tableSchema: StructType,
    version: Option[Int] = None,
    changes: Option[(Int, Int)] = None,
    onPlanned: Seq[String] => Unit = _ => (),
    streamOpts: CaseInsensitiveStringMap = CaseInsensitiveStringMap.empty(),
    onPlannedEntries: Seq[LedgerSink.FileEntry] => Unit = _ => (),
    wap: Option[String] = None,
    branch: Option[String] = None)
    extends ScanBuilder with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns
    with SupportsPushDownAggregates {

  private[sources] val manifestOpt: Option[LedgerSink.Manifest] = changes match {
    case Some((f, t)) => Some(LedgerSink.readChanges(dir, f, t))
    case None => (wap, branch) match {
      // the AUDIT read of write-audit-publish: the staged manifest is
      // a full table state (base ∪ staged files), so every planning
      // discipline — stats, partition pruning, column pruning — works
      // on it unchanged. STAGED entries audit with an unreachable data
      // sequence: active equality deletes must not kill rows the stage
      // appended AFTER them — publish assigns the real sequence
      // (strictly above every installed delete), and the audit must
      // show what publish will serve. Branch reads resolve the branch
      // HEAD state the same way.
      case (Some(id), _) =>
        val w = LedgerSink.readWap(dir, id)
        val staged = w.props.get(LedgerSink.WapNewFilesProp)
          .map(_.split(",", -1).toSet.filter(_.nonEmpty))
          .getOrElse(Set.empty[String])
        Some(w.copy(files = w.files.map(e =>
          if (staged(e.file)) e.copy(seq = Some(Int.MaxValue)) else e)))
      case (None, Some(b)) => Some(LedgerSink.readBranchState(dir, b,
        LedgerRefs.branchFork(dir, b)))
      case _ => LedgerSink.readManifestAt(dir, version)
    }
  }
  private def versionSchema: StructType =
    manifestOpt.map(_.schema).getOrElse(tableSchema)

  private val statName: Option[String] = LedgerSink.statColIndex(versionSchema)
    .map(versionSchema.fields(_).name)
  // per partition column: its type and transform (identity/bucket/days)
  private val partInfo: Map[String, (DataType, String, Int)] =
    manifestOpt.map(m => m.namedPartitionSpec.map(p =>
      p.name -> ((m.schema.fields(m.schema.fieldIndex(p.name)).dataType,
        p.kind, p.param))).toMap)
      .getOrElse(Map.empty)

  private var flo: Long = Long.MinValue
  private var fhi: Long = Long.MaxValue // inclusive
  // per partition column: allowed encoded (transformed) values
  // (intersected), null-ness constraints, and — days transforms only —
  // an inclusive [dayLo, dayHi] range (floorDiv is monotone, so a raw
  // range predicate bounds the day tuple exactly)
  private var partEq: Map[String, Set[String]] = Map.empty
  private var partMustNull: Set[String] = Set.empty
  private var partMustNotNull: Set[String] = Set.empty
  private var partDayLo: Map[String, Long] = Map.empty
  private var partDayHi: Map[String, Long] = Map.empty
  private var pushed: Array[Filter] = Array.empty
  private var required: Option[StructType] = None
  // equality/IN point predicates on the bloom column: a conjunction
  // of candidate-value sets; a file survives iff for EVERY conjunct
  // SOME value may be present in its bloom
  private val bloomName: Option[String] =
    LedgerSink.bloomColIndex(versionSchema)
      .map(versionSchema.fields(_).name)
  private var bloomConjuncts: Seq[Set[String]] = Seq.empty

  private def intersect(c: String, vs: Set[String]): Unit =
    partEq += (c -> partEq.get(c).map(_.intersect(vs)).getOrElse(vs))

  private def dayLo(c: String, v: Long): Unit =
    partDayLo += (c -> math.max(partDayLo.getOrElse(c, Long.MinValue),
      LedgerSink.dayValue(v).toLong))

  private def dayHi(c: String, v: Long): Unit =
    partDayHi += (c -> math.min(partDayHi.getOrElse(c, Long.MaxValue),
      LedgerSink.dayValue(v).toLong))

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val accepted = scala.collection.mutable.ArrayBuffer.empty[Filter]
    filters.foreach {
      case f @ GreaterThan(c, v: Long) if statName.contains(c) =>
        flo = math.max(flo, v + 1); accepted += f
      case f @ GreaterThanOrEqual(c, v: Long) if statName.contains(c) =>
        flo = math.max(flo, v); accepted += f
      case f @ LessThan(c, v: Long) if statName.contains(c) =>
        fhi = math.min(fhi, v - 1); accepted += f
      case f @ LessThanOrEqual(c, v: Long) if statName.contains(c) =>
        fhi = math.min(fhi, v); accepted += f
      case f @ EqualTo(c, v: Long) if statName.contains(c) =>
        flo = math.max(flo, v); fhi = math.min(fhi, v); accepted += f
      case _ => ()
    }
    // partition predicates prune independently of (and compose with)
    // the stats range; EqualTo on the stats column may ALSO be a
    // partition predicate — both prunings then apply. Equality/IN
    // literals are TRANSFORMED before comparison (bucket(v), day(v)) —
    // the inverse reasoning only sound for equality on bucket and for
    // equality AND ranges on days (floorDiv monotone); bucket range
    // predicates prune nothing.
    filters.foreach {
      case f @ EqualTo(c, v) if partInfo.contains(c) && v != null =>
        val (dt, kind, param) = partInfo(c)
        LedgerSink.encodePartLiteral(dt, v, kind, param).foreach { enc =>
          intersect(c, Set(enc)); accepted += f
        }
      case f @ In(c, vs) if partInfo.contains(c) &&
          vs.nonEmpty && !vs.contains(null) =>
        val (dt, kind, param) = partInfo(c)
        val encs = vs.toSeq.map(LedgerSink.encodePartLiteral(dt, _, kind, param))
        if (encs.forall(_.isDefined)) {
          intersect(c, encs.flatten.toSet); accepted += f
        }
      case f @ IsNull(c) if partInfo.contains(c) =>
        partMustNull += c; accepted += f
      case f @ IsNotNull(c) if partInfo.contains(c) =>
        partMustNotNull += c; accepted += f
      case _ => ()
    }
    // day-range pruning, strict bounds tightened on the integral raw
    // value first: t > v ⟺ t ≥ v+1 ⇒ day(t) ≥ day(v+1), and dually
    // t < v ⇒ day(t) ≤ day(v−1) — exact because floorDiv is monotone
    def asLong(v: Any): Option[Long] = v match {
      case x: java.lang.Long => Some(x.longValue)
      case x: java.lang.Integer => Some(x.longValue)
      case _ => None
    }
    // bloom pruning: point predicates on the bloom column (see
    // [[LedgerSink.bloomColIndex]]); min/max can't prune an unsorted
    // high-cardinality key, the per-file bloom sidecar can
    filters.foreach {
      case f @ EqualTo(c, v: String) if bloomName.contains(c) =>
        bloomConjuncts :+= Set(v); accepted += f
      case f @ In(c, vs) if bloomName.contains(c) && vs.nonEmpty &&
          vs.forall(_.isInstanceOf[String]) =>
        bloomConjuncts :+= vs.map(_.asInstanceOf[String]).toSet
        accepted += f
      case _ => ()
    }
    filters.foreach {
      case f @ GreaterThan(c, v)
          if partInfo.get(c).exists(_._2 == "days") =>
        asLong(v).filter(_ < Long.MaxValue).foreach { l =>
          dayLo(c, l + 1); accepted += f }
      case f @ GreaterThanOrEqual(c, v)
          if partInfo.get(c).exists(_._2 == "days") =>
        asLong(v).foreach { l => dayLo(c, l); accepted += f }
      case f @ LessThan(c, v)
          if partInfo.get(c).exists(_._2 == "days") =>
        asLong(v).filter(_ > Long.MinValue).foreach { l =>
          dayHi(c, l - 1); accepted += f }
      case f @ LessThanOrEqual(c, v)
          if partInfo.get(c).exists(_._2 == "days") =>
        asLong(v).foreach { l => dayHi(c, l); accepted += f }
      case _ => ()
    }
    pushed = accepted.distinct.toArray
    filters // ALL residual: pruning bounds files, it doesn't filter rows
  }

  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = Some(requiredSchema)

  // ---- aggregate pushdown (metadata-only aggregation) ----

  /** COUNT(*) / MIN / MAX answered from the MANIFEST — zero data I/O:
    * the file entries already carry exact physical row counts and
    * exact per-file [min,max] on the stats column (the writer computes
    * true extremes). At 100 TB, `SELECT count(*)` or a per-partition
    * profile costs a driver-side metadata read instead of a full scan
    * — the Iceberg/parquet-footer aggregate-pushdown idea at this
    * format's grain.
    *
    * Honesty boundary, refusals are REAL:
    *   - grouping only by IDENTITY partition columns whose tuples
    *     every file carries (a tuple is a fact about every row);
    *   - MIN/MAX only on the stats column, and only when NO chosen
    *     file carries a deletion vector (deleting a row may remove
    *     the extreme value; stats stay conservative bounds, which is
    *     sound for pruning but NOT for exact answers) and every
    *     file's stats were taken on the current stat column;
    *   - COUNT(*) stays exact under DVs — the sidecar's ordinal count
    *     is committed metadata (driver reads sidecars, still no data
    *     file opened);
    *   - any residual filter disables the path (Spark only attempts
    *     aggregate pushdown when no post-scan filters remain, and
    *     this scan returns every filter as residual).
    * All-null files ((None,None) stats) contribute nothing to
    * MIN/MAX, matching SQL null-skipping semantics. */
  private var pushedAgg: Option[(Seq[String], Seq[AggregateFunc])] = None

  private def aggAcceptable(agg: Aggregation): Boolean = {
    val m = manifestOpt.getOrElse(return false)
    if (pushed.nonEmpty) return false
    def refName(e: org.apache.spark.sql.connector.expressions.Expression)
        : Option[String] = e match {
      case r: org.apache.spark.sql.connector.expressions.NamedReference
          if r.fieldNames().length == 1 => Some(r.fieldNames()(0))
      case _ => None
    }
    val identityParts = m.namedPartitionSpec
      .filter(_.kind == "identity").map(_.name).toSet
    val groupsOk = agg.groupByExpressions.forall(e =>
      refName(e).exists(identityParts.contains)) &&
      (agg.groupByExpressions.isEmpty ||
        (m.specHomogeneous && m.files.forall(_.partVals.exists(
          _.length == m.partitionIds.length))))
    val needsStats = agg.aggregateExpressions.exists {
      case _: AggMin | _: AggMax => true
      case _ => false
    }
    val statsOk = !needsStats || (
      m.files.forall(e => e.dv.isEmpty &&
        e.statId.orElse(
          if (e.ids.isEmpty) m.statId else None) == m.statId) &&
        m.statId.isDefined)
    val aggsOk = agg.aggregateExpressions.nonEmpty &&
      agg.aggregateExpressions.forall {
        case _: CountStar => true
        case f: AggMin => refName(f.column).exists(statName.contains)
        case f: AggMax => refName(f.column).exists(statName.contains)
        case _ => false
      }
    // equality deletes kill rows the manifest cannot count (membership
    // is data-dependent) — metadata aggregates refuse outright and the
    // query falls back to the (eq-merging) scan
    groupsOk && statsOk && aggsOk && m.eqDeletes.isEmpty
  }

  override def supportCompletePushDown(agg: Aggregation): Boolean =
    aggAcceptable(agg)

  override def pushAggregation(agg: Aggregation): Boolean =
    aggAcceptable(agg) && {
      val groups = agg.groupByExpressions.toSeq.map(e =>
        e.asInstanceOf[org.apache.spark.sql.connector.expressions
          .NamedReference].fieldNames()(0))
      pushedAgg = Some((groups, agg.aggregateExpressions.toSeq))
      true
    }

  /** Evaluate the pushed aggregation from the manifest (driver-side;
    * sidecar ordinal counts included for COUNT under DVs). Returns
    * (schema, one row per group as plain JVM values). */
  private def aggRows(): (StructType, Seq[Seq[Any]]) = {
    val m = manifestOpt.get
    val (groups, aggs) = pushedAgg.get
    val statType = statName.map(n =>
      m.schema.fields(m.schema.fieldIndex(n)).dataType)
    val groupTypes = groups.map(n =>
      m.schema.fields(m.schema.fieldIndex(n)).dataType)
    val specPos = groups.map(n => m.partitionNames.indexOf(n))
    val schema = StructType(
      groups.zip(groupTypes).map { case (n, t) =>
        StructField(n, t, nullable = true) } ++
      aggs.zipWithIndex.map {
        case (_: CountStar, i) =>
          StructField(s"count_star_$i", LongType, nullable = false)
        case (f: AggMin, i) =>
          StructField(s"min_$i", statType.get, nullable = true)
        case (f: AggMax, i) =>
          StructField(s"max_$i", statType.get, nullable = true)
        case (f, _) => throw new IllegalStateException(f.toString)
      })
    def liveRows(e: LedgerSink.FileEntry): Long =
      e.rows - e.dv.map(d =>
        LedgerSink.readDvOrdinals(dir.resolve(d)).cardinality().toLong)
        .getOrElse(0L)
    def fold(files: Seq[LedgerSink.FileEntry]): Seq[Any] =
      aggs.map {
        case _: CountStar => files.map(liveRows).sum: java.lang.Long
        case _: AggMin =>
          val ms = files.flatMap(_.min)
          if (ms.isEmpty) null
          else statType.get match {
            case IntegerType => Int.box(ms.min.toInt)
            case _ => Long.box(ms.min)
          }
        case _: AggMax =>
          val ms = files.flatMap(_.max)
          if (ms.isEmpty) null
          else statType.get match {
            case IntegerType => Int.box(ms.max.toInt)
            case _ => Long.box(ms.max)
          }
        case f => throw new IllegalStateException(f.toString)
      }
    val rows: Seq[Seq[Any]] =
      if (groups.isEmpty) Seq(fold(m.files))
      else m.files.groupBy(e => specPos.map(e.partVals.get(_)))
        .toSeq.sortBy(_._1.mkString("\u0000"))
        .map { case (vals, fs) =>
          vals.zip(groupTypes).map { case (v, t) =>
            if (v == LedgerSink.NullMark) null
            else LedgerSink.parseValue(t, v) match {
              case u: UTF8String => u.toString // re-box executor-side
              case x => x
            }
          } ++ fold(fs)
        }
    (schema, rows)
  }

  override def build(): Scan = pushedAgg match {
    case Some(_) =>
      val (schema, rows) = aggRows()
      new LedgerAggScan(dir.toString, schema, rows)
    case None =>
      buildFileScan()
  }

  private def buildFileScan(): Scan =
    new LedgerScan(dir, versionSchema, manifestOpt,
      required.getOrElse(versionSchema),
      flo, fhi, pushed.nonEmpty && statName.isDefined &&
        (flo != Long.MinValue || fhi != Long.MaxValue),
      partEq, partMustNull, partMustNotNull,
      partDayLo, partDayHi, version, changes, onPlanned,
      Option(streamOpts.get("maxFilesPerTrigger")).map(_.toInt).getOrElse(0),
      Option(streamOpts.get("skipChangeCommits")).exists(_.toBoolean),
      Option(streamOpts.get("startingVersion")).getOrElse("0"),
      Option(streamOpts.get("maxBytesPerTrigger")).map(_.toLong).getOrElse(0L),
      onPlannedEntries, bloomConjuncts, branch)
}

private[sources] class LedgerScan(
    dir: Path, versionSchema: StructType,
    manifestOpt: Option[LedgerSink.Manifest],
    required: StructType,
    flo: Long, fhi: Long, statFiltered: Boolean,
    partEq: Map[String, Set[String]],
    partMustNull: Set[String], partMustNotNull: Set[String],
    partDayLo: Map[String, Long], partDayHi: Map[String, Long],
    version: Option[Int], changes: Option[(Int, Int)],
    onPlanned: Seq[String] => Unit,
    maxFilesPerTrigger: Int = 0,
    skipChangeCommits: Boolean = false,
    startingVersion: String = "0",
    maxBytesPerTrigger: Long = 0L,
    onPlannedEntries: Seq[LedgerSink.FileEntry] => Unit = _ => (),
    bloomConjuncts: Seq[Set[String]] = Seq.empty,
    branch: Option[String] = None)
    extends Scan with Batch with SupportsReportPartitioning
    with SupportsReportStatistics with SupportsRuntimeV2Filtering {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this

  // ---- runtime (DPP) narrowing state ----
  // dynamic partition pruning delivers the build side's OBSERVED join
  // keys after that side executes; [[filter]] intersects them into
  // these and BatchScanExec re-plans partitions. Advisory like the
  // static pushdown: the join above still evaluates the real
  // condition, so an envelope over the stat column is sound and a
  // transformed match on a partition column is exact.
  @volatile private var rtPartEq: Map[String, Set[String]] = Map.empty
  @volatile private var rtFlo: Long = Long.MinValue
  @volatile private var rtFhi: Long = Long.MaxValue
  @volatile private var rtBloom: Seq[Set[String]] = Seq.empty

  private val rtStatName: Option[String] =
    LedgerSink.statColIndex(versionSchema).map(versionSchema.fields(_).name)
  private val rtBloomName: Option[String] =
    LedgerSink.bloomColIndex(versionSchema).map(versionSchema.fields(_).name)

  // ---- bloom-filter admission ----
  // Sidecars are read lazily per distinct bloom file and cached for
  // the scan's lifetime (planning re-runs — DPP, SPJ regrouping —
  // reuse the parse). A sidecar built over a different field id
  // (schema evolution moved the bloom column) or an unreadable one
  // degrades to "keep" — pruning may only ever over-approximate.
  private val bloomFieldId: Option[Int] = manifestOpt.flatMap(m =>
    LedgerSink.bloomColIndex(m.schema).map(m.ids(_)))
  private val bloomCache =
    scala.collection.mutable.HashMap.empty[String, Option[(Int, Array[Byte])]]

  private def bloomAdmit(e: LedgerSink.FileEntry): Boolean = {
    val conjuncts = bloomConjuncts ++ rtBloom
    if (conjuncts.isEmpty) return true
    e.bloom match {
      case None => true
      case Some(b) =>
        bloomCache.synchronized {
          bloomCache.getOrElseUpdate(b,
            try {
              val (m, k, fid, bits) =
                LedgerSink.readBloomSidecar(dir.resolve(b))
              if (bloomFieldId.contains(fid) && k == LedgerSink.BloomK)
                Some((m, bits))
              else None
            } catch { case _: java.io.IOException => None })
        } match {
          case None => true
          case Some((m, bits)) =>
            conjuncts.forall(_.exists(v =>
              LedgerSink.bloomMightContain(m, bits, v)))
        }
    }
  }

  /** DPP eligibility: runtime predicates on partition columns (any
    * transform — values transform like static IN pruning) and on the
    * stats column (envelope). Restricted to columns the scan actually
    * OUTPUTS: Spark's PartitionPruning resolves these against the
    * scan's output attributes and fails the whole query on a miss —
    * a column-pruned read must not advertise what it no longer
    * carries. */
  override def filterAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    manifestOpt.map(m =>
      (m.partitionNames ++ rtStatName.toSeq ++ rtBloomName.toSeq).distinct
      .filter(required.fieldNames.contains)
      .map(n => Expressions.column(n)
        : org.apache.spark.sql.connector.expressions.NamedReference)
      .toArray).getOrElse(Array.empty)

  override def filter(predicates
      : Array[org.apache.spark.sql.connector.expressions.filter.Predicate])
      : Unit =
    predicates.foreach { p =>
      if (p.name() == "IN" && p.children().nonEmpty) {
        p.children().head match {
          case r: org.apache.spark.sql.connector.expressions.NamedReference
              if r.fieldNames().length == 1 =>
            val cname = r.fieldNames()(0)
            val lits = p.children().tail.collect {
              case l: org.apache.spark.sql.connector.expressions.Literal[_] =>
                l.value(): Any
            }
            if (lits.length == p.children().length - 1 && lits.nonEmpty) {
              manifestOpt.foreach(m =>
                m.namedPartitionSpec.find(_.name == cname).foreach { pf =>
                  val dt = m.schema.fields(m.schema.fieldIndex(cname)).dataType
                  val encs = lits.map(v => LedgerSink.encodePartLiteral(
                    dt, unwrapLit(dt, v), pf.kind, pf.param))
                  if (encs.forall(_.isDefined)) {
                    val s = encs.flatten.toSet
                    rtPartEq += (cname -> rtPartEq.get(cname)
                      .map(_.intersect(s)).getOrElse(s))
                  }
                })
              if (rtStatName.contains(cname)) {
                val longs = lits.collect {
                  case x: java.lang.Long => x.longValue
                  case x: java.lang.Integer => x.longValue
                }
                if (longs.length == lits.length && longs.nonEmpty) {
                  rtFlo = math.max(rtFlo, longs.min)
                  rtFhi = math.min(rtFhi, longs.max)
                }
              }
              // runtime IN-set on the bloom column: the build side's
              // observed join keys probe the per-file blooms — exact
              // rows still come from the join, files that cannot hold
              // any key are never read
              if (rtBloomName.contains(cname)) {
                val strs = lits.collect {
                  case u: UTF8String => u.toString
                  case s: String => s
                }
                if (strs.length == lits.length && strs.nonEmpty)
                  rtBloom :+= strs.toSet
              }
            }
          case _ => ()
        }
      }
    }

  /** V2 literals arrive as INTERNAL values (UTF8String for strings) —
    * normalize to what [[LedgerSink.encodePartLiteral]] accepts. */
  private def unwrapLit(dt: DataType, v: Any): Any = (dt, v) match {
    case (StringType, u: UTF8String) => u.toString
    case _ => v
  }

  /** Post-pruning row/byte estimates from the manifest — what lets the
    * optimizer auto-broadcast a small ledger dimension (without this a
    * DSv2 relation reports the default "unknown = huge" size and a
    * 5-row dim sort-merge-joins). Rows are physical line counts (DV
    * overcount is bounded and estimates only need order of magnitude);
    * bytes are the chosen files' on-disk sizes — a driver-side
    * metadata read over already-pruned files. */
  override def estimateStatistics()
      : org.apache.spark.sql.connector.read.Statistics = {
    val chosen = chosenFiles
    val rows = chosen.map(_.rows).sum
    val bytes = chosen.map(e =>
      try Files.size(dir.resolve(e.file))
      catch { case _: java.io.IOException => 0L }).sum
    new org.apache.spark.sql.connector.read.Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        java.util.OptionalLong.of(math.max(bytes, 1L))
      override def numRows(): java.util.OptionalLong =
        java.util.OptionalLong.of(rows)
    }
  }

  /** Streaming READ: committed versions are the offsets (see
    * [[LedgerMicroBatchStream]]). A versionAsOf/changes snapshot is a
    * fixed relation — streaming it is refused like writes to it are. */
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream = {
    if (version.nonEmpty || changes.nonEmpty || branch.nonEmpty)
      throw new UnsupportedOperationException(
        "streaming read of a versionAsOf/changes/branch snapshot")
    // name→id resolution is frozen HERE: the stream's schema is the
    // query-start schema, so its names must resolve against the
    // query-start manifest — resolving per batch against the newest
    // manifest would silently null a column renamed mid-stream
    new LedgerMicroBatchStream(dir, required, idOf,
      (m, e) => partitionMatches(m, e) && statsAdmit(m, e) && bloomAdmit(e),
      maxFilesPerTrigger, skipChangeCommits, startingVersion, onPlanned,
      maxBytesPerTrigger)
  }
  override def description(): String =
    s"graft-ledger $dir" + version.map(v => s" @v$v").getOrElse("") +
      changes.map { case (f, t) => s" @changes v$f..v$t" }.getOrElse("") +
      (if (statFiltered) s" StatsRange: [$flo, $fhi]" else "") +
      (if (partEq.nonEmpty || partMustNull.nonEmpty || partMustNotNull.nonEmpty)
        s" PartitionFilter: ${partEq.map { case (k, v) =>
          s"$k IN {${v.toSeq.sorted.mkString(",")}}" }.mkString(", ")}" else "") +
      (if (required.length != versionSchema.length)
        s" PrunedColumns: [${required.fieldNames.mkString(",")}]" else "") +
      (if (bloomConjuncts.nonEmpty)
        s" BloomProbe: ${bloomConjuncts.map(s =>
          s"{${s.toSeq.sorted.take(3).mkString(",")}}").mkString(" AND ")}"
      else "")

  /** Per-file partition pruning under SPEC EVOLUTION: the tuple is
    * matched against the spec THE FILE WAS WRITTEN UNDER
    * ([[LedgerSink.Manifest.namedSpecOf]]), not the table's current
    * spec. Encoded constraints (equality/IN sets, day bounds) were
    * computed under the CURRENT spec's transforms, so they apply to a
    * field only when the file's transform for that column is the SAME
    * (kind, param) — a bucket(4) tuple says nothing about a bucket(8)
    * predicate, and conservatively keeping such files is the sound
    * half of the Iceberg multi-spec contract. Null-ness constraints
    * apply under ANY transform: every transform maps a null raw value
    * to the null tuple mark. */
  private def partitionMatches(m: LedgerSink.Manifest,
      e: LedgerSink.FileEntry): Boolean = {
    if (partEq.isEmpty && partMustNull.isEmpty && partMustNotNull.isEmpty &&
        partDayLo.isEmpty && partDayHi.isEmpty && rtPartEq.isEmpty)
      return true
    val fields = m.namedSpecOf(e)
    // the CURRENT spec's transforms — what the pushed constraint sets
    // were encoded under
    val curInfo: Map[String, (String, Int)] =
      m.namedPartitionSpec.map(p => p.name -> ((p.kind, p.param))).toMap
    e.partVals match {
      case Some(vals) if vals.length == fields.length =>
        fields.zip(vals).forall { case (p, v) =>
          val n = p.name
          val isNull = v == LedgerSink.NullMark
          val sameTransform = curInfo.get(n).exists { case (k, prm) =>
            k == p.kind && prm == p.param
          }
          (!partMustNull.contains(n) || isNull) &&
            (!partMustNotNull.contains(n) || !isNull) &&
            (!sameTransform || (
              partEq.get(n).forall(s => !isNull && s.contains(v)) &&
                // runtime (DPP) key sets compose with the static pruning
                rtPartEq.get(n).forall(s => !isNull && s.contains(v)) &&
                // day-range bounds (range predicates exclude null)
                partDayLo.get(n).forall(lo => !isNull && v.toLong >= lo) &&
                partDayHi.get(n).forall(hi => !isNull && v.toLong <= hi)))
        }
      case _ => true // no recorded tuple: cannot prove, must survive
    }
  }

  private def statsAdmit(m: LedgerSink.Manifest,
      e: LedgerSink.FileEntry): Boolean = {
    // static pushed range composed with the runtime (DPP) envelope
    val lo = math.max(if (statFiltered) flo else Long.MinValue, rtFlo)
    val hi = math.min(if (statFiltered) fhi else Long.MaxValue, rtFhi)
    if (lo == Long.MinValue && hi == Long.MaxValue) return true
    val curStatId = m.statId
    val applies = e.statId.orElse(
      if (e.ids.isEmpty) curStatId else None) == curStatId
    if (applies) (e.min, e.max) match {
      case (Some(mn), Some(mx)) => mx >= lo && mn <= hi
      case _ => false // all-null stat column: a range predicate excludes NULL
    }
    else if (e.ids.exists(f => !curStatId.exists(f.contains)))
      false // file predates the stat column: it reads all-NULL there
    else true // stats taken on another column: unknowable, keep
  }

  // name→id against the scanned manifest; see [[LedgerSink.bindFile]]
  private val idOf: Map[String, Int] =
    manifestOpt.map(_.idMap).getOrElse(Map.empty)

  private def bind(m: LedgerSink.Manifest,
      e: LedgerSink.FileEntry): LedgerFilePartition =
    LedgerSink.bindFile(dir, m, e, required, idOf)

  // a DEF, not a lazy val: runtime (DPP) filtering narrows the state
  // above AFTER the first planning pass, and BatchScanExec re-plans by
  // calling planInputPartitions again — a cached selection would serve
  // the pre-filter answer
  private def chosenFiles: Seq[LedgerSink.FileEntry] =
    manifestOpt.map(_.files.filter(e =>
      partitionMatches(m = manifestOpt.get, e = e) &&
        statsAdmit(manifestOpt.get, e) && bloomAdmit(e))).getOrElse(Seq.empty)

  /** STORAGE-PARTITIONED JOIN grouping: when the session's v2
    * bucketing is on, the table has an identity partition spec whose
    * columns survive column pruning, and every admitted file carries
    * its partition tuple, the scan groups files by tuple and reports
    * [[KeyGroupedPartitioning]] — two ledger tables co-partitioned on
    * the join key then join with NO shuffle on either side (the
    * Iceberg/Delta SPJ contract at this format's scale; Spark matches
    * groups via [[HasPartitionKey]], and mismatched partition-value
    * sets are handled by its pushPartValues path). The trade is read
    * parallelism at partition-value grain — the same trade Spark's
    * own SPJ makes; `spark.sql.sources.v2.bucketing.enabled=false`
    * restores per-file planning. */
  // also a DEF — regrouped from the post-filter file selection
  private def spjGroups
      : Option[Seq[(InternalRow, Seq[LedgerSink.FileEntry])]] =
    manifestOpt
      .filter(_ => org.apache.spark.sql.internal.SQLConf.get.v2BucketingEnabled)
      .filter(_.partitionIds.nonEmpty)
      .filter(_.partitionNames.forall(required.fieldNames.contains))
      .filter(m => chosenFiles.nonEmpty && chosenFiles.forall(e =>
        // spec-homogeneous only: a pre-evolution file's tuple keys a
        // DIFFERENT spec — grouping it under the current transforms
        // would co-locate rows that don't share the key
        m.specOf(e) == m.specId &&
          e.partVals.exists(_.length == m.partitionIds.length)))
      .map { m =>
        // a transformed field's tuple value IS the transform result —
        // bucket/day numbers key as INT; identity keys as the column
        val types = m.namedPartitionSpec.map(p =>
          if (p.kind == "identity")
            m.schema.fields(m.schema.fieldIndex(p.name)).dataType
          else IntegerType)
        chosenFiles.groupBy(_.partVals.get).toSeq
          .sortBy(_._1.mkString("\u0000"))
          .map { case (vals, es) =>
            val key: InternalRow = new GenericInternalRow(
              vals.zip(types).map { case (v, dt) =>
                if (v == LedgerSink.NullMark) null
                else LedgerSink.parseValue(dt, v): Any
              }.toArray)
            (key, es.toSeq)
          }
      }

  override def outputPartitioning()
      : org.apache.spark.sql.connector.read.partitioning.Partitioning =
    spjGroups match {
      case Some(gs) =>
        new org.apache.spark.sql.connector.read.partitioning
          .KeyGroupedPartitioning(
            manifestOpt.get.namedPartitionSpec.map(p =>
              LedgerSink.toTransform(p): ConnectorExpression).toArray,
            gs.length)
      case None =>
        new org.apache.spark.sql.connector.read.partitioning
          .UnknownPartitioning(chosenFiles.length)
    }

  override def planInputPartitions(): Array[InputPartition] =
    manifestOpt match {
      case Some(m) =>
        onPlanned(chosenFiles.map(_.file))
        onPlannedEntries(chosenFiles)
        spjGroups match {
          case Some(gs) =>
            gs.map { case (key, es) =>
              LedgerFileGroupPartition(es.map(bind(m, _)).toArray, key)
                : InputPartition
            }.toArray
          case None =>
            chosenFiles.map(e => bind(m, e): InputPartition).toArray
        }
      case None => Array.empty
    }

  override def createReaderFactory(): PartitionReaderFactory =
    LedgerSink.lineReaderFactory(LedgerSink.cleanDdl(required))
}

private[sources] case class LedgerFilePartition(
    file: String, positions: Array[Int], width: Int,
    dvFile: Option[String] = None, rel: String = "",
    eqd: Array[EqdFileBinding] = Array.empty,
    // row-codec-encoded INITIAL DEFAULTS per output column (empty =
    // none apply to this file); see [[LedgerSink.defaultsArray]]
    defaults: Array[String] = Array.empty)
    extends InputPartition

/** One equality-delete file bound to one data file: the delete's key
  * tuples live at `ordinals` within the data file's line layout. */
private[sources] case class EqdFileBinding(
    path: String, ordinals: Array[Int])

/** The pushed-aggregation result: already-final rows computed on the
  * driver from the manifest ([[LedgerScanBuilder.aggRows]]) — one
  * metadata-sized partition, no data file opened. Values travel as
  * plain JVM types; the reader re-boxes strings to UTF8String. */
private[sources] case class LedgerAggPartition(
    rows: Array[Array[Any]], ddl: String) extends InputPartition

private[sources] class LedgerAggScan(dirDesc: String, schema: StructType,
    rows: Seq[Seq[Any]]) extends Scan with Batch {
  override def readSchema(): StructType = schema
  override def toBatch: Batch = this
  override def description(): String =
    s"graft-ledger-agg $dirDesc PushedAggregation: " +
      s"[${schema.fieldNames.mkString(",")}] groups=${rows.length}"
  override def planInputPartitions(): Array[InputPartition] =
    Array(LedgerAggPartition(rows.map(_.toArray).toArray,
      LedgerSink.cleanDdl(schema)))
  override def createReaderFactory(): PartitionReaderFactory =
    partition => {
      val p = partition.asInstanceOf[LedgerAggPartition]
      val out = p.rows.iterator.map { vals =>
        new GenericInternalRow(vals.map {
          case s: String => UTF8String.fromString(s)
          case x => x
        }): InternalRow
      }
      new org.apache.spark.sql.connector.read.PartitionReader[InternalRow] {
        private var cur: InternalRow = _
        override def next(): Boolean =
          out.hasNext && { cur = out.next(); true }
        override def get(): InternalRow = cur
        override def close(): Unit = ()
      }
    }
}

/** One partition VALUE's files, keyed for storage-partitioned joins.
  * All rows in the group share `key` by the identity-partition write
  * invariant. */
private[sources] case class LedgerFileGroupPartition(
    files: Array[LedgerFilePartition], key: InternalRow)
    extends InputPartition
    with org.apache.spark.sql.connector.read.HasPartitionKey {
  override def partitionKey(): InternalRow = key
}

/** One version STEP of the row-level change feed: the files version
  * `version` added and removed relative to `version − 1`, each
  * pre-bound to the feed's output schema. */
private[sources] case class LedgerChangeStepPartition(
    version: Int,
    added: Array[LedgerFilePartition],
    removed: Array[LedgerFilePartition])
    extends InputPartition

/** Row-level CHANGE FEED (the Delta CDF contract): for a version range
  * (from, to], emit each step's logical row diff as
  * (table columns…, `_change_type` ∈ {insert, delete},
  * `_commit_version`), such that applying the feed to the FROM
  * snapshot reconstructs the TO snapshot exactly (multiset semantics:
  * post = pre ∪ inserts ∖ deletes).
  *
  * Unlike [[LedgerSink.readChanges]] (which serves append-only ranges
  * as plain rows and REFUSES ranges spanning non-append commits), this
  * scan handles every commit kind by DIFFING replaced against
  * replacement files per step: a copy-on-write UPDATE emits the old
  * row as `delete` and the new one as `insert`, surviving rows of the
  * rewritten files cancel in the multiset diff, and a pure rewrite
  * (OPTIMIZE) emits NOTHING — rewritten-identical rows all cancel.
  *
  * Honesty note on scale: this RECONSTRUCTS the diff at read time, so
  * each step's reader holds one version step's distinct rows in
  * memory. Delta/Iceberg persist change files AT COMMIT TIME to avoid
  * exactly this; at this format's scale the reconstruction keeps the
  * commit path lean and the feed exact, and steps parallelize across
  * executors (one input partition per step). Files bind by FIELD ID
  * against the TO version's schema — renames are transparent, columns
  * added later read null from older files. */
private[sources] class LedgerChangeFeedScan(dir: Path, from: Int, to: Int)
    extends ScanBuilder with Scan with Batch {
  if (from > to) throw new IllegalArgumentException(
    s"changesFromVersion=$from > changesToVersion=$to")
  private val toManifest = LedgerSink.readManifestAt(dir, Some(to)).getOrElse(
    throw new IllegalArgumentException(
      s"no committed ledger manifest under $dir"))

  override def build(): Scan = this
  override def toBatch: Batch = this
  override def readSchema(): StructType =
    StructType(toManifest.schema.fields ++ LedgerSink.cdfColumns)
  override def description(): String =
    s"graft-ledger-cdf $dir v$from..v$to"

  // files bind by field id against the TO version's schema; each side
  // of a step reads through ITS OWN merge-on-read state (DVs by entry
  // identity, equality deletes and defaults by the side's manifest):
  // the multiset diff then sees LOGICAL rows, so a rewrite that
  // materializes deletes cancels exactly
  override def planInputPartitions(): Array[InputPartition] = {
    val idOf = toManifest.idMap
    LedgerChangeFeedScan.stepPartitions(dir, from, to,
      LedgerSink.bindFile(dir, _, _, toManifest.schema, idOf))
  }

  override def createReaderFactory(): PartitionReaderFactory =
    LedgerChangeFeedScan.readerFactory(toManifest.schema)
}

private[sources] object LedgerChangeFeedScan {

  /** The step partitions of versions from+1..to: per version, the
    * entries it added and removed relative to the version before it —
    * entry identity includes the deletion vector, so a DV-only change
    * to a file is a logical row change and enters the diff — or, for a
    * step that changed the equality-delete set,
    * [[eqDeleteStepPartitions]]. Shared by the batch and streaming
    * change feeds; `bind` fixes each file's output binding. */
  private[sources] def stepPartitions(dir: Path, from: Int, to: Int,
      bind: (LedgerSink.Manifest, LedgerSink.FileEntry) => LedgerFilePartition)
      : Array[InputPartition] =
    (from + 1 to to).flatMap { v =>
      val cur = LedgerSink.readManifestAt(dir, Some(v)).get
      val prev =
        if (v - 1 == 0) LedgerSink.Manifest.fresh(cur.schema, Seq.empty[String])
        else LedgerSink.readManifestAt(dir, Some(v - 1)).get
      if (cur.eqDeletes != prev.eqDeletes)
        eqDeleteStepPartitions(dir, v, prev, cur, bind)
      else {
        def keyOf(e: LedgerSink.FileEntry) = (e.file, e.dv)
        val curKeys = cur.files.map(keyOf).toSet
        val prevKeys = prev.files.map(keyOf).toSet
        val added = cur.files.filterNot(e => prevKeys(keyOf(e)))
        val removed = prev.files.filterNot(e => curKeys(keyOf(e)))
        if (added.isEmpty && removed.isEmpty) None
        else Some(LedgerChangeStepPartition(v,
          added.map(bind(cur, _)).toArray,
          removed.map(bind(prev, _)).toArray): InputPartition)
      }
    }.toArray

  /** Step partitions for a commit that CHANGED the equality-delete
    * set. When no file was removed (install / upsert — the common
    * shapes, since every rewrite kind conflicts on a concurrent
    * delete change), no cross-FILE cancellation is possible, so the
    * step splits into ONE PARTITION PER AFFECTED FILE: appended files
    * emit as pure inserts, a surviving file whose applicable-delete
    * set (or DV) changed self-diffs cur-side against prev-side
    * (emitting exactly its newly killed rows), and untouched files
    * are never read — parallel, and each task bounded by one file.
    * A step that also REMOVED files (OPTIMIZE's delete GC) needs the
    * whole-state diff in one partition: rewritten rows cancel ACROSS
    * files. */
  private[sources] def eqDeleteStepPartitions(
      dir: Path, v: Int,
      prev: LedgerSink.Manifest, cur: LedgerSink.Manifest,
      bind: (LedgerSink.Manifest, LedgerSink.FileEntry) => LedgerFilePartition)
      : Seq[InputPartition] = {
    val prevByName = prev.files.map(e => e.file -> e).toMap
    val curNames = cur.files.map(_.file).toSet
    if (prev.files.exists(e => !curNames(e.file)))
      Seq(LedgerChangeStepPartition(v,
        cur.files.map(bind(cur, _)).toArray,
        prev.files.map(bind(prev, _)).toArray))
    else cur.files.flatMap { e =>
      prevByName.get(e.file) match {
        case None => // appended by this commit: pure inserts
          Some(LedgerChangeStepPartition(v,
            Array(bind(cur, e)), Array.empty[LedgerFilePartition]))
        case Some(pe) =>
          if (pe.dv != e.dv ||
            prev.eqDeletesFor(pe) != cur.eqDeletesFor(e))
            Some(LedgerChangeStepPartition(v,
              Array(bind(cur, e)), Array(bind(prev, pe))))
          else None // identical logical content: skip, never read
      }
    }
  }

  /** Per-step multiset diff: count added rows up, removed rows down;
    * positive residues emit as `insert`, negative as `delete`. Keyed
    * on the DECODED field values (boxed equality — UTF8String by
    * content, doubles bit-boxed), insertion-ordered so output is
    * deterministic. */
  private[sources] def readerFactory(
      schema: StructType): PartitionReaderFactory = {
    val schemaDdl = LedgerSink.cleanDdl(schema)
    partition => {
      val types: Array[DataType] =
        StructType.fromDDL(schemaDdl).fields.map(_.dataType)
      val p = partition.asInstanceOf[LedgerChangeStepPartition]
      def rowsOf(files: Array[LedgerFilePartition]): Iterator[InternalRow] =
        files.iterator.flatMap(LedgerSink.fileRows(_, types))
      val counts =
        scala.collection.mutable.LinkedHashMap.empty[Seq[Any], Long]
      def keyed(r: InternalRow): Seq[Any] =
        types.indices.map(i =>
          if (r.isNullAt(i)) null else r.get(i, types(i)))
      rowsOf(p.added).foreach { r =>
        val k = keyed(r); counts.update(k, counts.getOrElse(k, 0L) + 1L)
      }
      rowsOf(p.removed).foreach { r =>
        val k = keyed(r); counts.update(k, counts.getOrElse(k, 0L) - 1L)
      }
      val out = counts.iterator.flatMap { case (k, n) =>
        if (n == 0L) Iterator.empty
        else {
          val tpe = UTF8String.fromString(if (n > 0L) "insert" else "delete")
          Iterator.fill(math.abs(n).toInt) {
            new GenericInternalRow(
              (k :+ (tpe: Any) :+ (p.version: Any)).toArray): InternalRow
          }
        }
      }
      new org.apache.spark.sql.connector.read.PartitionReader[InternalRow] {
        private var cur: InternalRow = _
        override def next(): Boolean =
          out.hasNext && { cur = out.next(); true }
        override def get(): InternalRow = cur
        override def close(): Unit = ()
      }
    }
  }
}
