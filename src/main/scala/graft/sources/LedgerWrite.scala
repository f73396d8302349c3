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
private[sources] class LedgerWriteBuilder(dir: Path, schema: StructType,
    requestedSpec: Seq[LedgerSink.NamedPartField] = Seq.empty,
    wapId: Option[String] = None,
    branch: Option[String] = None)
    extends WriteBuilder with SupportsTruncate {
  LedgerSink.checkSchema(schema)
  private var doTruncate = false
  override def truncate(): WriteBuilder = { doTruncate = true; this }

  /** The branch head state, resolved ONCE per write (it replays the
    * fork manifest plus every branch log — re-resolving in each of
    * effectiveSpec / id binding / checks would re-read all of it). */
  private lazy val branchBase: Option[LedgerSink.Manifest] =
    branch.map(b => LedgerSink.readBranchState(dir, b,
      LedgerRefs.branchFork(dir, b)))

  /** The partition spec this write must honor: the table's (appends
    * and same-shape overwrites), or the requested one when the write
    * (re)defines the table. An append missing a partition column is
    * refused — its rows could not be placed. */
  private def effectiveSpec: Seq[LedgerSink.NamedPartField] = {
    // a branch write honors the BRANCH state's spec (main may have
    // evolved since the fork — that divergence surfaces as a
    // fast-forward refusal, not a mis-partitioned branch file)
    val tableSpec = branchBase.map(_.namedPartitionSpec)
      .orElse(LedgerSink.readManifest(dir).map(_.namedPartitionSpec))
      .getOrElse(requestedSpec)
    if (tableSpec.forall(p => schema.fieldNames.contains(p.name))) tableSpec
    else if (doTruncate) requestedSpec
    else throw new IllegalArgumentException(
      s"append schema ${schema.fieldNames.mkString(",")} lacks partition " +
        s"column(s) ${tableSpec.map(_.name).mkString(",")}")
  }

  override def build(): Write = {
    val spec = effectiveSpec
    LedgerSink.checkPartitionSpec(schema, spec)
    new Write with RequiresDistributionAndOrdering {
      /** Cluster incoming rows by the partition SOURCE columns so each
        * partition's rows land in one task → one file per partition
        * per commit, not one per (task × partition) — the difference
        * between a manifest that grows with data and one that grows
        * with parallelism. Transformed specs cluster by the raw column
        * too (finer than the tuple — a bucket's rows may span tasks,
        * each task still writing one sub-file per tuple; OPTIMIZE
        * compacts): clustering by the TRANSFORM expression would make
        * the write's analysis depend on function-catalog resolution,
        * which path-based writes don't have. Unpartitioned writes
        * impose nothing. */
      override def requiredDistribution(): Distribution =
        if (spec.isEmpty) Distributions.unspecified()
        else Distributions.clustered(
          spec.map(p =>
            Expressions.column(p.name): ConnectorExpression).toArray)
      override def requiredOrdering(): Array[ConnectorSortOrder] = Array.empty
      override def toBatch: BatchWrite =
        new LedgerBatchWrite(dir, schema, doTruncate, spec, requestedSpec,
          wapId, branch, branchBase)
      override def toStreaming
          : org.apache.spark.sql.connector.write.streaming.StreamingWrite = {
        wapId.foreach(id => throw new UnsupportedOperationException(
          s"wapId=$id on a streaming write: write-audit-publish stages " +
            "one batch commit; streams commit per epoch"))
        branch.foreach(b => throw new UnsupportedOperationException(
          s"branch=$b on a streaming write: branches take batch appends; " +
            "fast-forward before streaming to the table"))
        new LedgerStreamingWrite(dir, schema, spec)
      }
    }
  }
}

private[sources] case class LedgerCommitMessage(
    entries: Seq[LedgerSink.FileEntry]) extends WriterCommitMessage

private[sources] object LedgerWriteSupport {
  /** Field ids the write encodes under: by NAME against the table
    * manifest (the evolved-table append case), by position when names
    * don't line up (path-based positional appends, the pre-evolution
    * behavior), fresh 1..n when the write defines the table. Takes the
    * manifest VIEW rather than re-reading, so a writer can capture the
    * exact state its binding was computed against and verify it at
    * commit time (see [[LedgerBatchWrite.commit]]). */
  def writeIds(existing: Option[LedgerSink.Manifest], schema: StructType,
      truncate: Boolean): Seq[Int] =
    existing match {
      case Some(m) if !truncate =>
        if (schema.fieldNames.forall(m.schema.fieldNames.contains))
          schema.fieldNames.toSeq.map(m.idOf)
        else if (schema.length <= m.ids.length) m.ids.take(schema.length)
        else throw new IllegalArgumentException(
          s"append schema is wider than the table: " +
            s"${schema.fieldNames.mkString(",")} vs ${m.schema.fieldNames.mkString(",")}")
      case _ => 1 to schema.length
    }

  /** Whether `cur` still carries the definition a write bound against:
    * the `bound` binding itself, or — for a write bound fresh (ids
    * 1..n) against an empty table — the binding a fresh manifest of
    * the write schema and spec would have, compared by column NAME
    * (the write schema may carry metadata the manifest's DDL drops). */
  def bindingHolds(bound: Option[LedgerSink.Binding], schema: StructType,
      spec: Seq[LedgerSink.NamedPartField], cur: LedgerSink.Manifest): Boolean =
    bound match {
      case Some(b) => cur.binding == b
      case None =>
        val f = LedgerSink.Manifest.fresh(schema, spec).binding
        cur.schema.fieldNames.sameElements(schema.fieldNames) &&
          cur.binding.copy(schema = f.schema) == f
    }

  /** Delete the staged files (data, bloom, deletion-vector sidecars)
    * that a write's task messages name — every abort path. */
  def dropStaged(dir: Path, messages: Iterable[WriterCommitMessage]): Unit =
    messages.foreach {
      case LedgerCommitMessage(es) =>
        es.foreach(LedgerSink.deleteStagedEntry(dir, _))
      case LedgerDeltaCommitMessage(dvs, es) =>
        dvs.foreach { case (_, d) => Files.deleteIfExists(dir.resolve(d)): Unit }
        es.foreach(LedgerSink.deleteStagedEntry(dir, _))
      case _ => ()
    }
}

private[sources] class LedgerBatchWrite(
    dir: Path, schema: StructType, truncate: Boolean,
    partSpec: Seq[LedgerSink.NamedPartField],
    requestedSpec: Seq[LedgerSink.NamedPartField],
    wapId: Option[String] = None,
    branch: Option[String] = None,
    branchBase: Option[LedgerSink.Manifest] = None)
    extends BatchWrite {

  /** The manifest state the write's field-id binding is computed
    * against — captured ONCE so commit can detect a schema-changing
    * commit that raced this write (the staged files' id lists would
    * bind differently under the new definition). A BRANCH write binds
    * against the branch's head state (resolved once by the builder),
    * not main's. */
  private val baseManifest: Option[LedgerSink.Manifest] =
    if (branch.isDefined) branchBase else LedgerSink.readManifest(dir)
  private val bound = baseManifest.map(_.binding)
  private val ids: Seq[Int] =
    LedgerWriteSupport.writeIds(baseManifest, schema, truncate)

  override def createBatchWriterFactory(
      info: PhysicalWriteInfo): DataWriterFactory = {
    Files.createDirectories(dir.resolve("_staging"))
    val base = dir.toString
    val ddl = LedgerSink.cleanDdl(schema)
    val partWrites = partSpec.map(p =>
      (schema.fieldIndex(p.name), p.kind, p.param))
    // per-JOB tag: (partitionId, taskId) is only unique within one
    // SparkContext — taskIds restart at 0 in a new session, so a later
    // session appending to the same table could reuse a COMMITTED
    // file's name and truncate it (CDC and versioning diff versions by
    // file NAME, so name identity is load-bearing). COW and OPTIMIZE
    // writers already carry a tag; batch appends get one too, plus the
    // writer opens staged files CREATE_NEW to fail loud on collision.
    val tag = java.util.UUID.randomUUID().toString.take(8)
    val idsLocal = ids // local copy: the factory lambda ships to
    // executors and must not capture `this` (dir: Path is not
    // serializable)
    // constraints/NOT NULL resolve + bind on the DRIVER (full Catalyst
    // analysis), enforce per row on executors
    val checks = LedgerConstraints.writeChecks(baseManifest, schema, truncate)
    (partitionId: Int, taskId: Long) =>
      new LedgerDataWriter(base, StructType.fromDDL(ddl), idsLocal, partWrites,
        partitionId, taskId, filePrefix = s"a$tag-", checks)
  }

  /** The commit point: the manifest names exactly the files whose
    * tasks reported success; append unions the previous manifest,
    * overwrite starts clean. Atomic rename makes torn job commits
    * impossible — either the old manifest or the new one exists.
    * An APPEND preserves the TABLE's definition (schema, ids,
    * partition spec): the write schema is the incoming dataframe's
    * (Spark has already checked compatibility), and its tighter
    * nullability must not overwrite the manifest — an evolved table
    * whose manifest flipped to NOT NULL made pre-evolution rows read
    * 0 instead of NULL (codegen skips null checks on non-nullable
    * columns; caught by the evolution spec). An OVERWRITE (or a first
    * write) takes the write schema — that is how a path-based save
    * defines the table — keeping the table's partition spec when the
    * write schema still carries its columns.
    *
    * CONCURRENCY: the commit rebases onto the manifest current AT
    * COMMIT TIME under the table's commit lock
    * ([[LedgerSink.commitRebase]]) — two concurrent appends both land
    * (file sets are disjoint; the union is order-independent), and an
    * append racing an OPTIMIZE/DELETE lands too (those commits never
    * touch files they haven't seen). The one append conflict is a
    * racing DEFINITION change: the staged files encode under the ids,
    * carry tuples of the spec and passed the constraints of
    * [[baseManifest]]'s binding, so when the current binding differs
    * (an overwrite, evolution, spec change or addCheck — whose
    * validation scan cannot see uncommitted staged rows) the append
    * aborts rather than land bytes the new definition misreads. */
  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val fresh = messages.toSeq
      .flatMap(_.asInstanceOf[LedgerCommitMessage].entries)
    def dropStaged(): Unit = LedgerWriteSupport.dropStaged(dir, messages)
    def holds(cur: LedgerSink.Manifest) =
      LedgerWriteSupport.bindingHolds(bound, schema, partSpec, cur)
    // BRANCH commit: one append on the branch's own log chain — main
    // is untouched, and the branch's conflict rules mirror main's
    // (a schema/spec change of the BRANCH state since planning
    // aborts; concurrent branch appends serialize under the lock and
    // rebase onto the branch head).
    branch.foreach { b =>
      if (truncate) {
        dropStaged()
        throw new UnsupportedOperationException(
          s"overwrite on branch '$b': branch writes are append-only")
      }
      LedgerSink.withCommitLock(dir) {
        val fork = LedgerRefs.branchFork(dir, b) // throws if dropped
        val head = LedgerSink.branchHead(dir, b, fork)
        val cur = LedgerSink.readBranchState(dir, b, fork)
        if (!holds(cur)) {
          dropStaged()
          throw new java.util.ConcurrentModificationException(
            s"append to branch '$b' of $dir raced a definition change; " +
              "retry against the branch's new state")
        }
        LedgerSink.writeBranchCommit(dir, b, head + 1,
          cur.copy(files = cur.files ++ fresh), cur)
      }
      return
    }
    // WRITE-AUDIT-PUBLISH stage: the commit lands in a staged manifest
    // (base-at-stage-time ∪ new files) instead of advancing the live
    // table. Audit via the `wapId` read option; LedgerRefs.publishWap
    // folds exactly `graft.wap.newfiles` into the then-current table
    // under the same rebase protocol as any append; abortWap discards.
    // Append-only by design (a staged TRUNCATE would have to carry the
    // whole replacement state through publish's conflict rules), and a
    // duplicate wapId is refused — staged manifests are immutable.
    wapId.foreach { id =>
      if (truncate) throw new UnsupportedOperationException(
        "wapId with overwrite mode: stage commits are append-only")
      LedgerSink.withCommitLock(dir) {
        val target = dir.resolve(LedgerSink.wapName(id))
        if (Files.exists(target)) {
          dropStaged()
          throw new IllegalStateException(
            s"wapId=$id is already staged on $dir; publish or abort it " +
              "before re-staging")
        }
        val cur = LedgerSink.readManifest(dir)
        if (!cur.fold(baseManifest.isEmpty)(holds)) {
          dropStaged()
          throw new java.util.ConcurrentModificationException(
            s"wap stage on $dir raced a schema-, spec- or constraint-" +
              "changing commit; retry against the table's new definition")
        }
        val m = cur.getOrElse(LedgerSink.Manifest.fresh(schema, partSpec))
        val staged = m.copy(files = m.files ++ fresh,
          props = m.props +
            (LedgerSink.WapBaseProp -> LedgerSink.currentVersion(dir).toString) +
            (LedgerSink.WapNewFilesProp -> fresh.map(_.file).mkString(",")))
        val tmp = dir.resolve(s"${LedgerSink.wapName(id)}.tmp")
        Files.write(tmp, staged.render.mkString("\n").getBytes(UTF_8))
        Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE,
          StandardCopyOption.REPLACE_EXISTING)
      }
      return
    }
    LedgerSink.commitRebase(dir, {
      case Some(old) if !truncate =>
        if (holds(old)) Some(old.copy(files = old.files ++ fresh)) else None
      case existing =>
        val keepSpec = existing.map(_.namedPartitionSpec)
          .getOrElse(requestedSpec)
          .filter(p => schema.fieldNames.contains(p.name))
        // an overwrite redefines the DATA, not the declaration:
        // partition spec (when compatible) and table properties carry
        Some(LedgerSink.Manifest.fresh(schema, keepSpec).copy(files = fresh,
          props = existing.map(_.props).getOrElse(Map.empty)))
    }, s"append to $dir raced a schema-, spec- or constraint-changing " +
      "commit; retry the write against the table's new definition")
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    LedgerWriteSupport.dropStaged(dir, messages)
}

/** Group-based copy-on-write row-level operation (see
  * [[LedgerTable.newRowLevelOperationBuilder]]). One implementation
  * serves DELETE, UPDATE and MERGE: the command only changes how
  * Spark computes the replacement rows; the connector's contract is
  * the same either way — replace the scanned groups with the written
  * ones atomically. */
private[sources] class LedgerRowLevelOperation(
    dir: Path, schema: StructType,
    cmd: RowLevelOperation.Command) extends RowLevelOperation {

  /** Files the operation's scan planned — the groups being replaced.
    * Written once by planInputPartitions (driver side), read by
    * commit (driver side). Identity is the (file, deletion-vector)
    * PAIR: a concurrent deleteMoR changes only the entry's DV, and a
    * name-only identity would let this operation's commit install
    * replacement files computed from the pre-delete scan — silently
    * resurrecting the MoR-deleted rows. */
  @volatile private[sources] var scannedFiles: Seq[String] = Seq.empty
  @volatile private[sources] var scannedEntries
      : Seq[(String, Option[String])] = Seq.empty
  /** The equality-delete set the operation PLANNED against: its scan
    * materialized exactly these into the replacement rows, and the
    * replacement files commit with a fresh data sequence that escapes
    * every delete — so a delete installed after planning must CONFLICT
    * or its rows would resurrect through the rewrite. Captured at
    * scan-builder creation; a delete landing between this read and the
    * scan's own manifest read only makes the commit conflict
    * spuriously (safe), never silently pass. */
  @volatile private[sources] var plannedEqDeletes
      : Seq[LedgerSink.EqDelete] = Seq.empty

  override def command: RowLevelOperation.Command = cmd

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    plannedEqDeletes = LedgerSink.readManifest(dir)
      .map(_.eqDeletes).getOrElse(Seq.empty)
    new LedgerScanBuilder(dir, schema,
      onPlanned = files => scannedFiles = files,
      onPlannedEntries = es =>
        scannedEntries = es.map(e => (e.file, e.dv)))
  }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder {
      override def build(): Write = new Write {
        override def toBatch: BatchWrite = new BatchWrite {
          // the binding the writer factory encoded its ids, tuples and
          // row checks under — commit verifies it is still current
          @volatile private var bound: Option[LedgerSink.Binding] = None
          override def createBatchWriterFactory(
              pinfo: PhysicalWriteInfo): DataWriterFactory = {
            Files.createDirectories(dir.resolve("_staging"))
            val base = dir.toString
            val ddl = LedgerSink.cleanDdl(schema)
            val tag = java.util.UUID.randomUUID().toString.take(8)
            val snapshot = LedgerSink.readManifest(dir)
            bound = snapshot.map(_.binding)
            val ids = LedgerWriteSupport.writeIds(snapshot, schema,
              truncate = false)
            val partWrites = snapshot
              .map(_.namedPartitionSpec).getOrElse(Seq.empty)
              .map(p => (schema.fieldIndex(p.name), p.kind, p.param))
            // UPDATE/MERGE-written rows must satisfy the table's
            // constraints like any other ingest
            val checks = LedgerConstraints.writeChecks(snapshot, schema,
              truncate = false)
            (partitionId: Int, taskId: Long) =>
              new CowDataWriter(base, StructType.fromDDL(ddl), ids, partWrites,
                partitionId, taskId, s"cow-$tag-", checks)
          }

          /** Swap the scanned groups for the replacement files —
            * files the scan skipped are untouched, and the archived
            * pre-operation manifest keeps the old state readable
            * (time travel applies to row-level ops like any commit).
            *
            * CONCURRENCY: a rewrite only commutes with commits that
            * left its input groups alone. The rebase keeps files the
            * scan never saw (a concurrent APPEND's rows survive
            * untouched) but ABORTS when any scanned file is gone from
            * the current manifest — a concurrent OPTIMIZE/DELETE/COW
            * rewrote this operation's inputs, and installing the swap
            * anyway would resurrect or drop rows. */
          override def commit(messages: Array[WriterCommitMessage]): Unit = {
            val replacedPairs = scannedEntries.toSet
            val replacedNames = replacedPairs.map(_._1)
            val fresh = messages.toSeq
              .flatMap(_.asInstanceOf[LedgerCommitMessage].entries)
            LedgerSink.commitRebase(dir, cur => {
              val m = cur.getOrElse(LedgerSink.Manifest.fresh(schema,
                Seq.empty[LedgerSink.NamedPartField]))
              // every scanned (file, dv) pair must be unchanged — a
              // concurrent deleteMoR that only swapped a DV also
              // invalidates this operation's scan (see scannedEntries)
              val curPairs = m.files.map(e => (e.file, e.dv)).toSet
              // a definition change since the writer factory bound its
              // ids, tuples and checks is a conflict like any rewrite
              val bindingOk = LedgerWriteSupport.bindingHolds(bound, schema,
                Seq.empty, m)
              // an equality delete installed after planning would be
              // escaped by the replacement files' fresh data sequence
              // (the scan only materialized the PLANNED set)
              val eqdOk = m.eqDeletes == plannedEqDeletes
              if (!bindingOk || !eqdOk || !replacedPairs.subsetOf(curPairs)) None
              else Some(m.copy(
                files = m.files.filterNot(e => replacedNames(e.file)) ++ fresh))
            }, s"row-level $cmd on $dir raced a commit that rewrote one of " +
              "its scanned files, redefined the table, or installed " +
              "equality deletes; re-run the operation")
          }

          override def abort(messages: Array[WriterCommitMessage]): Unit =
            LedgerWriteSupport.dropStaged(dir, messages)
        }
      }
    }
}

/** DataWriter for the copy-on-write path. Spark's group-based
  * ReplaceData prepends a `__row_operation` column to every row
  * (RowDeltaUtils: DELETE=1 … WRITE_WITH_METADATA=6) and — verified
  * against the 4.1 bytecode — applies NO projection before the writer
  * when the operation requests no metadata columns
  * (`ReplaceDataExec.writingTask` falls through to the plain
  * `DataWritingSparkTask` whenever `metadataProjection` is None), so
  * the connector slices the data columns out itself: the payload is
  * the LAST schema-width fields, and a row marked DELETE is dropped
  * rather than written (group-based plans emit only write-ops today;
  * the filter makes the writer safe if a future rewrite emits delete
  * markers). Plain writes (no leading operation column) pass through
  * untouched. */
private[sources] class CowDataWriter(
    base: String, schema: StructType, ids: Seq[Int],
    partWrites: Seq[(Int, String, Int)],
    partitionId: Int, taskId: Long, prefix: String,
    checks: LedgerConstraints.WriteChecks = LedgerConstraints.WriteChecks.empty)
    extends LedgerDataWriter(base, schema, ids, partWrites,
      partitionId, taskId, prefix, checks) {
  private val width = schema.fields.length
  override def write(r: InternalRow): Unit = {
    val off = r.numFields - width
    if (off <= 0) super.write(r)
    else if (r.getInt(0) != 1) { // RowDeltaUtils.DELETE_OPERATION
      val proj = new GenericInternalRow(width)
      var i = 0
      while (i < width) {
        proj.update(i,
          if (r.isNullAt(i + off)) null
          else r.get(i + off, schema.fields(i).dataType))
        i += 1
      }
      super.write(proj)
    }
  }
}

/** Exactly-once STREAMING sink over the same staged-file + manifest
  * protocol as the batch write — the connector's fourth quadrant
  * (batch read, batch write, micro-batch read, and now micro-batch
  * WRITE). The one genuinely new obligation is EPOCH IDEMPOTENCE:
  * after a failure, Structured Streaming re-runs the last epoch and
  * calls `commit(epochId, …)` AGAIN for an epoch that may already be
  * in the manifest. Staged files carry their epoch in the name
  * (`_staging/epoch-<e>-part-…`), so a replayed commit detects its
  * epoch's files already present and returns without appending —
  * at-least-once task attempts compose with an idempotent commit
  * into exactly-once table state, which is the entire contract of a
  * transactional streaming sink. Append output mode only: an epoch
  * never rewrites previous epochs' files. */
private[sources] class LedgerStreamingWrite(dir: Path, schema: StructType,
    partSpec: Seq[LedgerSink.NamedPartField] = Seq.empty)
    extends org.apache.spark.sql.connector.write.streaming.StreamingWrite {
  import org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory

  override def createStreamingWriterFactory(
      info: PhysicalWriteInfo): StreamingDataWriterFactory = {
    Files.createDirectories(dir.resolve("_staging"))
    val base = dir.toString
    val ddl = LedgerSink.cleanDdl(schema)
    val ids = LedgerWriteSupport.writeIds(LedgerSink.readManifest(dir),
      schema, truncate = false)
    val partWrites = partSpec.map(p =>
      (schema.fieldIndex(p.name), p.kind, p.param))
    // per-QUERY tag after the epoch marker (replay detection matches on
    // the `epoch-<e>-` prefix, so the tag must follow it): a restarted
    // query re-staging an epoch never collides with the committed run's
    // file names — see createBatchWriterFactory's naming note
    val tag = java.util.UUID.randomUUID().toString.take(8)
    // epoch writes enforce the table's constraints too — a stream is
    // just another ingest route. The binding is captured here: the
    // epoch commit conflicts on any later change (see commit), forcing
    // a restart that re-captures it.
    val m0 = LedgerSink.readManifest(dir)
    bound = m0.map(_.binding)
    val checks = LedgerConstraints.writeChecks(m0, schema, truncate = false)
    (partitionId: Int, taskId: Long, epochId: Long) =>
      new LedgerDataWriter(base, StructType.fromDDL(ddl), ids, partWrites,
        partitionId, taskId, filePrefix = s"epoch-$epochId-$tag-", checks)
  }

  /** The binding the writer factory encoded and validated under —
    * epoch commits conflict when it changed. */
  @volatile private var bound: Option[LedgerSink.Binding] = None

  override def commit(epochId: Long,
      messages: Array[WriterCommitMessage]): Unit = {
    val marker = s"_staging/epoch-$epochId-"
    val fresh = messages.toSeq
      .flatMap(_.asInstanceOf[LedgerCommitMessage].entries)
    // epoch commits are appends: preserve the table's definition (see
    // LedgerBatchWrite.commit), rebase onto the commit-time manifest
    // under the table lock (a batch append racing an epoch commit —
    // both land), and detect REPLAY inside the same critical section
    // so a replayed epoch can never double-append
    LedgerSink.commitRebase(dir, cur => {
      val m = cur.getOrElse(LedgerSink.Manifest.fresh(schema, partSpec))
      // a definition change mid-stream invalidates the factory's ids
      // and tuples, or means this epoch's rows were validated under
      // the OLD rule set — fail the epoch rather than land them. The
      // binding is re-captured per epoch but the tuples' spec is
      // fixed at stream start, so the spec is compared on its own too
      if (m.namedPartitionSpec != partSpec ||
          !LedgerWriteSupport.bindingHolds(bound, schema, partSpec, m))
        throw new java.util.ConcurrentModificationException(
          s"epoch commit on $dir raced a schema-, spec- or constraint-" +
            "changing commit; restart the stream against the new definition")
      if (m.files.exists(_.file.startsWith(marker))) {
        // replayed epoch: the manifest already holds its files — drop
        // the re-staged duplicates instead of double-appending
        // (returning the current manifest unchanged commits nothing)
        val present = m.files.map(_.file).toSet
        LedgerWriteSupport.dropStaged(dir,
          Seq(LedgerCommitMessage(fresh.filterNot(e => present(e.file)))))
        Some(m)
      } else Some(m.copy(files = m.files ++ fresh))
    }, "unreachable: epoch appends always rebase")
  }

  override def abort(epochId: Long,
      messages: Array[WriterCommitMessage]): Unit =
    LedgerWriteSupport.dropStaged(dir, messages)
}

/** Task-side writer. Partitioned tables get DYNAMIC sub-files: one
  * staged file per partition TUPLE seen by this task (the clustered
  * write distribution makes that one tuple per task in the common
  * case), each carrying its tuple in the commit entry for the
  * pruner. `partWrites` is (column index, transform kind, param) per
  * spec field — tuples hold TRANSFORMED values (bucket number, day
  * number) for non-identity fields. Files open lazily — an empty task
  * stages nothing, so file count tracks data, not parallelism. Stats
  * are per sub-file over the write schema's first integral column,
  * recorded with its FIELD ID so evolution can later tell whose stats
  * they are. */
private[sources] class LedgerDataWriter(
    base: String, schema: StructType, ids: Seq[Int],
    partWrites: Seq[(Int, String, Int)],
    partitionId: Int, taskId: Long, filePrefix: String = "",
    checks: LedgerConstraints.WriteChecks = LedgerConstraints.WriteChecks.empty,
    bloom: Boolean = true)
    extends DataWriter[InternalRow] {

  // CHECK constraints compile once per task; a violating row fails the
  // task → the job aborts → the commit never happens (see
  // LedgerConstraints — the Delta invariants contract)
  private val violationPreds = checks.constraints.map { case (n, e) =>
    val p = org.apache.spark.sql.catalyst.expressions.Predicate.create(e)
    p.initialize(partitionId)
    (n, p)
  }

  private val statIdx = LedgerSink.statColIndex(schema)
  private val statId = statIdx.map(ids(_))
  // `bloom = false` for files that are read whole, never pruned
  // (equality-delete sidecars)
  private val bloomIdx =
    if (bloom) LedgerSink.bloomColIndex(schema) else None
  private val bloomId = bloomIdx.map(ids(_))

  private final class Sub(val rel: String, val partVals: Option[Seq[String]]) {
    val path: Path = Paths.get(base, rel)
    Files.createDirectories(path.getParent) // executor-side, in case the
    // driver's mkdir raced or the writer runs on another host's view
    // CREATE_NEW: a name collision with a committed file must fail the
    // task, never silently truncate committed data
    val out: java.io.BufferedWriter = Files.newBufferedWriter(path, UTF_8,
      java.nio.file.StandardOpenOption.CREATE_NEW)
    var rows = 0L
    var statMin: Long = Long.MaxValue
    var statMax: Long = Long.MinValue
    var statSeen = false
    // distinct (h1, h2) pairs of the bloom column's non-null values;
    // the bloom is sized from the distinct count at commit
    val bloomPairs = scala.collection.mutable.HashSet.empty[(Long, Long)]
  }

  private val subs =
    scala.collection.mutable.LinkedHashMap.empty[Seq[String], Sub]
  private var seq = 0

  private def subFor(record: InternalRow): Sub = {
    val key: Seq[String] =
      partWrites.map { case (i, kind, param) =>
        LedgerSink.encodePartValue(schema.fields(i).dataType,
          record, i, kind, param)
      }
    subs.getOrElseUpdate(key, {
      val rel = s"_staging/${filePrefix}part-$partitionId-$taskId-$seq.ledger"
      seq += 1
      new Sub(rel, if (partWrites.isEmpty) None else Some(key))
    })
  }

  override def write(record: InternalRow): Unit = {
    checks.notNull.foreach { case (i, name) =>
      if (record.isNullAt(i)) throw new IllegalStateException(
        s"NOT NULL violation: column $name is null")
    }
    violationPreds.foreach { case (name, p) =>
      if (p.eval(record)) throw new IllegalStateException(
        s"CHECK constraint '$name' violated by row " +
          LedgerSink.encodeRow(record, schema))
    }
    val sub = subFor(record)
    sub.out.write(LedgerSink.encodeRow(record, schema))
    sub.out.write("\n")
    sub.rows += 1
    statIdx.foreach { i =>
      if (!record.isNullAt(i)) {
        val v = schema.fields(i).dataType match {
          case LongType => record.getLong(i)
          case _ => record.getInt(i).toLong
        }
        sub.statSeen = true
        if (v < sub.statMin) sub.statMin = v
        if (v > sub.statMax) sub.statMax = v
      }
    }
    bloomIdx.foreach { i =>
      if (!record.isNullAt(i)) {
        val s = record.getUTF8String(i).toString
        sub.bloomPairs.add((LedgerSink.bloomHash(s, LedgerSink.BloomSeed1),
          LedgerSink.bloomHash(s, LedgerSink.BloomSeed2))): Unit
      }
    }
  }

  override def commit(): WriterCommitMessage = {
    val entries = subs.values.toSeq.map { s =>
      s.out.close()
      // the bloom sidecar shares the data file's unique stem, so
      // attempt-uniqueness carries over; it stages at task commit and
      // only the committed manifest ever references it
      val bloomRel = bloomId.filter(_ => s.bloomPairs.nonEmpty).map { fid =>
        val rel = s.rel.stripSuffix(".ledger") + ".bf"
        val (m, bits) = LedgerSink.bloomBuild(s.bloomPairs)
        LedgerSink.writeBloomSidecar(Paths.get(base, rel), m, fid, bits)
        rel
      }
      LedgerSink.FileEntry(s.rel, s.rows,
        if (s.statSeen) Some(s.statMin) else None,
        if (s.statSeen) Some(s.statMax) else None,
        Some(ids), statId, s.partVals, dv = None, bloom = bloomRel)
    }
    LedgerCommitMessage(entries)
  }

  override def abort(): Unit = subs.values.foreach { s =>
    s.out.close(); Files.deleteIfExists(s.path): Unit
  }
  override def close(): Unit = subs.values.foreach(_.out.close())
}

